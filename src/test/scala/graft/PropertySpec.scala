package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ops._

/** Property-based tests (SURVEY §5.3) using raw ScalaCheck generators with
  * a fixed seed (the scalatestplus bridge isn't in the offline cache).
  * Each property samples many generated inputs through ONE Spark job.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("urlLevels never throws; root = 3rd slash-segment or null (any string)") {
    val gen: Gen[String] = Gen.oneOf(
      Gen.alphaNumStr.map("https://www.x.de/" + _),
      Gen.alphaNumStr,
      Gen.const(""),
      Gen.const("https://"),
      Gen.const("a/b/c"),
      Gen.const("///"),
      Gen.const("https://x.de/a/b/c/d/e/f/g"),
      Gen.listOfN(5, Gen.oneOf(Gen.alphaNumStr, Gen.const(""))).map(_.mkString("/")))
    val urls = samples(gen, 300)
    val out = Urls.withUrlLevels(urls.toDF("u"), "u")
      .select("u", "root").collect()
    out.foreach { r =>
      val segs = r.getString(0).split("/", -1)
      val expRoot = if (segs.length > 2 && segs(2).nonEmpty) segs(2) else null
      assert(r.getAs[String]("root") === expRoot, s"url=${r.getString(0)}")
    }
  }

  test("localeDecimal round-trips German-formatted numbers") {
    val gen = for {
      whole <- Gen.choose(0L, 10_000_000L)
      frac <- Gen.choose(0, 99)
    } yield (whole, frac)
    val df = samples(gen, 300).map { case (w, f) =>
      val grouped = f"$w%,d".replace(",", ".") // German thousands grouping
      (f"$grouped,$f%02d", w + f / 100.0)
    }.toDF("s", "expected")
    val bad = df.withColumn("parsed", Casts.localeDecimal(col("s")))
      .filter(col("parsed").isNull || abs(col("parsed") - col("expected")) > 1e-9)
      .count()
    assert(bad === 0)
  }

  test("normalize is idempotent and BigQuery-safe on arbitrary ASCII") {
    samples(Gen.asciiPrintableStr, 500).foreach { n =>
      val once = Names.normalize(n)
      assert(Names.normalize(once) === once)
      assert(!once.exists(c => c.isWhitespace || c == '-' || c == '"' || c == '\''))
      assert(once === once.toLowerCase)
    }
  }

  test("shingle count = max(tokens - n + 1, 1) for non-empty docs") {
    val word = Gen.choose(1, 8).flatMap(k => Gen.listOfN(k, Gen.alphaLowerChar).map(_.mkString))
    val doc = Gen.choose(1, 12).flatMap(k => Gen.listOfN(k, word).map(_.mkString(" ")))
    val out = samples(doc, 300).toDF("t")
      .select(Text.tokenCount(col("t")).as("n"),
        size(Text.shingles(col("t"), 3)).as("s")).collect()
    out.foreach { r =>
      assert(r.getInt(1) === math.max(r.getInt(0) - 2, 1))
    }
  }

  test("greedyPieces concatenation reconstructs every tokenized word") {
    // lossless segmentation: joining a word's pieces with '' must give
    // back the word exactly, for ANY text and ANY vocabulary — greedy
    // choice changes the cut points, never the characters
    val vocab = Seq("ab", "ba", "a", "cc", "abc", "x")
    val gen: Gen[String] = Gen.listOfN(6,
      Gen.oneOf(Gen.alphaLowerStr.map(_.take(8)), Gen.const("abcba"),
        Gen.const("ccc"), Gen.const(""))).map(_.mkString(" "))
    val texts = samples(gen, 200)
    val df = texts.toDF("text")
    val got = df.select(
        concat_ws("", Text.greedyPieces(col("text"), vocab)).as("joined"),
        concat_ws("", Text.tokens(col("text"))).as("chars"))
      .collect()
    got.foreach { r => assert(r.getString(0) === r.getString(1)) }
  }

  test("sketchJaccard estimates lie in [0,1] and are exact under small vocab") {
    val gen: Gen[(String, String)] = for {
      k <- Gen.oneOf("A", "B", "C")
      t <- Gen.oneOf("v", "w", "x", "y", "z", "q")
    } yield (k, t)
    val toks = samples(gen, 400)
    val sk = Dedup.bottomKSketches(toks.toDF("key", "tok"), "key", "tok", 16)
    val pairs = Dedup.sketchJaccardPairs(sk, "key", 16).collect()
    // vocab (6 tokens) fits in k=16 -> estimates are EXACT Jaccards
    val sets = toks.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    pairs.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val est = r.getDouble(3)
      assert(est >= 0.0 && est <= 1.0)
      val exact = sets(a).intersect(sets(b)).size.toDouble /
        sets(a).union(sets(b)).size
      assert(math.abs(est - exact) < 1e-6, s"pair ($a,$b)")
    }
  }

  test("minhash signature is permutation-invariant under shingle-set equality") {
    // same shingle SET -> same minhash for every seed
    val doc = Gen.listOfN(6, Gen.oneOf("aa", "bb", "cc", "dd")).map(_.mkString(" "))
    val pairs = samples(doc, 50).map { d =>
      val toks = d.split(" ")
      (d, scala.util.Random.shuffle(toks.toList).mkString(" "), toks.sliding(3).map(_.mkString(" ")).toSet)
    }
    // only compare when the shuffled version produces the same shingle set
    val comparable = pairs.filter { case (a, b, _) =>
      a.split(" ").sliding(3).map(_.mkString(" ")).toSet ==
        b.split(" ").sliding(3).map(_.mkString(" ")).toSet
    }
    if (comparable.nonEmpty) {
      val df = comparable.map(p => (p._1, p._2)).toDF("a", "b")
      val bad = df.filter(
        Text.minhash(Text.shingles(col("a"), 3), 0) =!=
          Text.minhash(Text.shingles(col("b"), 3), 0)).count()
      assert(bad === 0)
    }
  }
  /** Reference admission over collected band rows: a doc is suppressed
    * when any of its bands is in the store or shared with a lower-id
    * batch doc; every batch row whose id is suppressed is dropped, and a
    * doc with no band rows is admitted. */
  private def admitReference(batchIds: Seq[Long],
      probe: Seq[(Long, Int, String)],
      store: Set[(Int, String)]): Seq[Long] = {
    val byKey = probe.groupBy(r => (r._2, r._3))
    val suppressed = probe.collect {
      case (id, bi, bh) if store((bi, bh)) ||
        byKey((bi, bh)).exists(_._1 < id) => id
    }.toSet
    batchIds.filterNot(suppressed).sorted
  }

  test("admitProbed matches a brute-force admission on random band tables") {
    // few distinct band hashes so store hits and in-batch collisions
    // are common; ids repeat (ties) and arrive unordered; some docs
    // carry no band rows at all
    val trial = for {
      nDocs <- Gen.choose(1, 14)
      ids <- Gen.listOfN(nDocs, Gen.choose(0L, 9L))
      bandless <- Gen.listOfN(nDocs, Gen.choose(0, 4).map(_ == 0))
      hashes <- Gen.listOfN(nDocs * 4, Gen.oneOf("a", "b", "c", "d", "e", "f"))
      store <- Gen.listOfN(6, Gen.zip(Gen.choose(0, 3),
        Gen.oneOf("a", "b", "c", "d", "e", "f", "g")))
      nStore <- Gen.choose(0, 6)
    } yield {
      val probe = ids.zip(bandless).zipWithIndex.flatMap {
        case ((_, true), _) => Nil
        case ((id, false), d) =>
          (0 until 4).map(b => (id, b, hashes(d * 4 + b)))
      }
      (ids, probe, store.take(nStore))
    }
    samples(trial, 24).foreach { case (ids, probe, store) =>
      val batch = ids.zipWithIndex.map { case (id, i) => (id, s"doc$i") }
        .toDF("doc_id", "text")
      val probeDf = probe.map { case (id, bi, bh) => (id, s"t$id", bi, bh) }
        .toDF("id", "text_hash", "band_idx", "band_hash")
      val storeDf = store.zipWithIndex.map { case ((bi, bh), i) =>
          (100L + i, "s", bi, bh) }
        .toDF("id", "text_hash", "band_idx", "band_hash")
      val got = Dedup.admitProbed(batch, "doc_id", probeDf, storeDf)
        .select("doc_id").as[Long].collect().toSeq.sorted
      assert(got === admitReference(ids, probe, store.toSet),
        s"ids=$ids probe=$probe store=$store")
    }
  }

  test("admitAgainstIndex matches a brute-force admission over its own " +
      "band rows") {
    // texts from a tiny vocabulary collide in whole bands; null texts
    // have no band rows; the store is banded from other random texts
    val text = Gen.listOfN(5, Gen.oneOf("red", "sea", "wind", "stone"))
      .map(_.mkString(" "))
    val trial = for {
      nDocs <- Gen.choose(1, 10)
      ids <- Gen.listOfN(nDocs, Gen.choose(0L, 6L))
      texts <- Gen.listOfN(nDocs, Gen.frequency(5 -> text.map(Option(_)),
        1 -> Gen.const(Option.empty[String])))
      stored <- Gen.listOfN(3, text)
    } yield (ids.zip(texts), stored)
    samples(trial, 12).foreach { case (docs, stored) =>
      val batch = docs.toDF("doc_id", "text")
      val index = Dedup.minhashIndex(stored.zipWithIndex
        .map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text"),
        "text", "doc_id")
      val probe = Dedup.minhashIndex(batch, "text", "doc_id")
        .select("id", "band_idx", "band_hash").as[(Long, Int, String)]
        .collect().toSeq
      val store = index.select("band_idx", "band_hash").as[(Int, String)]
        .collect().toSet
      val got = Dedup.admitAgainstIndex(batch, "text", "doc_id", index)
        .select("doc_id").as[Long].collect().toSeq.sorted
      assert(got === admitReference(docs.map(_._1), probe, store),
        s"docs=$docs stored=$stored")
    }
  }
}

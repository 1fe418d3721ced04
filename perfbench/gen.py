"""Seeded input generator for the benchmark workloads.

The same seed always produces the same files. The engine only ever reads
what this module writes (plus the fixed parquet tables under data/).

- dedup_graph: `order.txt`, the seed's permutation of the workload's
  queries, the order of its warm passes.
- daily_tick: per day, reference-shaped CSVs for the eight ETL jobs
  (FIXTURES.md section B shapes, ETL_ROWS rows per export) and the day's
  document stream in micro-batches drawn from the sf0.1 `documents` table,
  with fixed shares of exact duplicates, near duplicates and symbol junk.
  `expect.json` holds the row counts each ETL sink must write and the ids
  the ingest must reject.
"""
import json
import os
import random

import pyarrow.parquet as pq

ETL_ROWS = 400          # rows per main export (html, inlinks, midoco, ...)
DOCS_PER_BATCH = 250
BATCHES_PER_DAY = 1
EXACT_DUP_SHARE = 0.10  # byte-identical copy of an earlier batch's doc
NEAR_DUP_SHARE = 0.05   # earlier doc with one word swapped
JUNK_SHARE = 0.05       # symbol noise the quality gate must drop
HOST = "https://www.example.de"
PICTURE_EXTS = ("jpg", "png", "webp")


def gen_order(names, seed, out_dir):
    order = list(names)
    random.Random(seed).shuffle(order)
    _write(os.path.join(out_dir, "order.txt"), "\n".join(order) + "\n")
    return {"queries": len(order)}


def gen_daily(seed, days, docs_path, out_dir):
    rng = random.Random(seed)
    pool = pq.read_table(docs_path, columns=["text"]).column("text").to_pylist()
    rng.shuffle(pool)
    expect = {"days": {}, "exact_dup_ids": [], "junk_ids": [],
              "near_dup_ids": [], "offered": 0}
    day_lines = []
    earlier = []        # texts offered in strictly earlier batches
    next_fresh = 0
    for day in range(1, days + 1):
        run_date = "2024-05-%02d" % day
        ddir = os.path.join(out_dir, "day%d" % day)
        os.makedirs(ddir, exist_ok=True)
        expect["days"][str(day)] = _etl_inputs(rng, ddir, day, run_date)
        for b in range(1, BATCHES_PER_DAY + 1):
            rows = []
            for i in range(DOCS_PER_BATCH):
                doc_id = day * 1_000_000 + b * 1_000 + i
                r = rng.random()
                if earlier and r < EXACT_DUP_SHARE:
                    text, kind = rng.choice(earlier), "exact"
                    expect["exact_dup_ids"].append(doc_id)
                elif earlier and r < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
                    text, kind = _near(rng, rng.choice(earlier)), "near"
                    expect["near_dup_ids"].append(doc_id)
                elif r < EXACT_DUP_SHARE + NEAR_DUP_SHARE + JUNK_SHARE:
                    text, kind = _junk(rng), "junk"
                    expect["junk_ids"].append(doc_id)
                else:
                    text, kind = pool[next_fresh], "fresh"
                    next_fresh += 1
                rows.append((doc_id, kind, text))
            earlier.extend(t for _, k, t in rows if k == "fresh")
            expect["offered"] += len(rows)
            _write(os.path.join(ddir, "batch%d.tsv" % b),
                   "".join("%d\t%s\t%s\n" % r for r in rows))
        day_lines.append("%d\t%s\t%d" % (day, run_date, BATCHES_PER_DAY))
    _write(os.path.join(out_dir, "days.txt"), "\n".join(day_lines) + "\n")
    with open(os.path.join(out_dir, "expect.json"), "w") as f:
        json.dump(expect, f)
    return {"days": days, "etl_rows_per_export": ETL_ROWS,
            "batches_per_day": BATCHES_PER_DAY, "docs_per_batch": DOCS_PER_BATCH,
            "docs_offered": expect["offered"],
            "exact_dups": len(expect["exact_dup_ids"]),
            "near_dups": len(expect["near_dup_ids"]), "junk": len(expect["junk_ids"])}


def _near(rng, text):
    words = text.split(" ")
    i = rng.randrange(len(words))
    words[i] = "near" if words[i] != "near" else "dup"
    return " ".join(words)


def _junk(rng):
    return " ".join(rng.choice(["@@@@", "####", "!!!!", "%%%%", "&&&&", "$$$$"])
                    for _ in range(rng.randint(8, 20)))


def _url(rng, kind, i, depth=None):
    depth = rng.randint(0, 6) if depth is None else depth
    segs = ["reisen", "spanien", "mallorca", "hotels", "strand", "angebote"]
    path = "/".join(segs[:depth])
    if kind == "picture":
        return "%s/media/%s-%d.%s" % (HOST, path.replace("/", "-") or "img", i,
                                      rng.choice(PICTURE_EXTS))
    if kind == "whitelabel":
        return "https://partner%d.example.de/%s/p%d" % (i % 7, path, i)
    if kind == "external":
        return "https://www.other%d.com/%s/p%d" % (i % 5, path, i)
    return "%s/%s/p%d/" % (HOST, path, i) if path else "%s/p%d/" % (HOST, i)


def _maybe(rng, v, p=0.1):
    return "" if rng.random() < p else v


def _csv(path, header, rows, sep=",", encoding="utf-8"):
    def cell(v):
        v = str(v)
        return '"%s"' % v.replace('"', '""') if (sep in v or '"' in v) else v
    with open(path, "w", encoding=encoding, newline="") as f:
        f.write(sep.join(header) + "\n")
        for r in rows:
            f.write(sep.join(cell(v) for v in r) + "\n")


HTML_HEADER = [
    "Address", "Status Code", "Title 1", "Meta Description 1", "H1-1",
    "Meta Robots 1", "Canonical Link Element 1", "Size (bytes)", "Word Count",
    "Sentence Count", "Average Words Per Sentence", "Flesch Reading Ease Score",
    "Text Ratio", "Readability", "Crawl Depth", "Link Score", "Unique Inlinks",
    "Unique Outlinks", "Crawl Timestamp", "Last Crawl",
    "URL Inspection API Status", "Summary", "Coverage", "Crawled As",
    "Page Fetch", "Indexing Allowed", "Crawl Allowed", "User-Declared Canonical",
    "Google-Selected Canonical", "Mobile Usability", "Rich Results",
    "Rich Results Types", "Days Since Last Crawled", "Redirect URL",
    "ibe_integration 1", "number_of_deals 1", "travellogic 1", "ibe_agent_id",
    "content-1", "content-2", "content-3", "travelogic_agents_1",
    "travelogic_agents_2"]

MIDOCO_HEADER = [
    "Leistung Anlagedatum", "CRS (Standard) Reisebeginn", "CRS (Standard) Reiseende",
    "CRS (Standard) Stornodatum", "Leistung Element Preis",
    "Leistung Initialer Preis", "Auftrag Vermittler (Auftrag)",
    "Leistung Abflughafen Beschreibung",
    "Leistung Rückflug Abflughafen Beschreibung", "Leistung Hotelort",
    "Leistung Land Beschreibung", "Leistung Beschreibung", "Leistung Kategorie",
    "Leistungsattribut Wert", "CRS (Standard) ExtId", "CRS (Standard) Status",
    "CRS (Standard) Personenzahl", "CRS (Standard) original Buchungsnummer"]


def _etl_inputs(rng, ddir, day, run_date):
    """Writes one day's eight ETL exports; returns expected sink rows."""
    n = ETL_ROWS
    stamp = "%s 0%d:%02d:00" % (run_date, rng.randint(1, 9), rng.randint(0, 59))
    # E2 Screaming Frog HTML: root page (status 200) + pages + pictures
    html, n_html, n_pic = [], 0, 0
    for i in range(n):
        if i == 0:
            addr, status, kind = HOST + "/", 200, "html"
        else:
            kind = "picture" if rng.random() < 0.2 else "html"
            addr = _url(rng, kind, i + day * 100000)
            status = rng.choice([200] * 8 + [301, 404])
        n_html += kind == "html"
        n_pic += kind == "picture"
        html.append([
            addr, status, "Title %d" % i, _maybe(rng, "desc %d" % i), "h1",
            "index,follow", addr, rng.randint(1000, 90000), rng.randint(50, 2000),
            _maybe(rng, rng.randint(1, 80)), _maybe(rng, round(rng.uniform(5, 30), 1)),
            _maybe(rng, round(rng.uniform(0, 100), 1)),
            _maybe(rng, round(rng.random(), 2)), "standard", rng.randint(0, 6),
            round(rng.random(), 2), rng.randint(0, 500), rng.randint(0, 500),
            stamp, _maybe(rng, "2024-04-%02d 09:00:00" % rng.randint(1, 30), 0.3),
            "URL is on Google", "ok", "Indexed", "Mobile", "Successful", "Yes",
            "Yes", addr, addr, "Usable", "Valid", "Breadcrumbs",
            rng.randint(0, 30), "", "yes", rng.randint(0, 9), "true",
            "agent-%d" % rng.randint(1, 9), _maybe(rng, "chunk one %d " % i),
            _maybe(rng, "chunk two ", 0.4), _maybe(rng, "end.", 0.6),
            _maybe(rng, "Alpha", 0.3), _maybe(rng, "Beta", 0.5)])
    _csv(os.path.join(ddir, "internal_html.csv"), HTML_HEADER, html)

    # images: crawler image export (the union adds the html picture rows)
    n_img = n // 2
    _csv(os.path.join(ddir, "internal_images.csv"),
         ["Address", "Status Code", "Size (bytes)", "content-1"],
         [[_url(rng, "picture", i + day * 200000), 200, rng.randint(1000, 900000),
           _maybe(rng, "x")] for i in range(n_img)])

    # link graph edges, every endpoint class
    kinds = ["html"] * 6 + ["whitelabel", "external"]
    _csv(os.path.join(ddir, "all_inlinks.csv"),
         ["Type", "Source", "Destination", "Anchor", "Alt Text", "Status Code", "Follow"],
         [["Hyperlink", _url(rng, rng.choice(kinds), i),
           _url(rng, rng.choice(kinds), i + 7), "anchor %d" % i, "",
           rng.choice([200, 200, 301]), rng.choice(["TRUE", "FALSE"])]
          for i in range(n)])

    # orphans: GSC export (metrics, some empty) + sitemap export (no metrics)
    n_gsc = n_sm = n // 2
    gsc, sm, orphan_html = [], [], 0
    for i in range(n_gsc):
        kind = "picture" if rng.random() < 0.25 else "html"
        orphan_html += kind == "html"
        e = rng.random() < 0.2
        gsc.append([_url(rng, kind, i + day * 300000), 200,
                    "" if e else rng.randint(0, 90), "" if e else rng.randint(0, 5000),
                    "" if e else round(rng.random() / 10, 3),
                    "" if e else round(rng.uniform(1, 60), 1)])
    for i in range(n_sm):
        kind = "picture" if rng.random() < 0.25 else "html"
        orphan_html += kind == "html"
        sm.append([_url(rng, kind, i + day * 400000), 200])
    _csv(os.path.join(ddir, "search_console_orphan_urls.csv"),
         ["Address", "Status Code", "Clicks", "Impressions", "CTR", "Position"], gsc)
    _csv(os.path.join(ddir, "sitemaps_orphan_urls.csv"), ["Address", "Status Code"], sm)

    # backlink metrics
    _csv(os.path.join(ddir, "link_metrics_all.csv"),
         ["Address", "Ahrefs Backlinks - Exact", "Ahrefs RefDomains - Exact",
          "Ahrefs URL Rating - Exact", "Ahrefs Domain Rating"],
         [[_url(rng, rng.choice(["html", "html", "picture"]), i + day * 500000),
           rng.randint(0, 5000), rng.randint(0, 900), round(rng.uniform(0, 90), 1),
           71.0] for i in range(n)])

    # hreflang reports (names with quotes/spaces exercise the normalizer)
    n_hl = n // 4
    for f in ("hreflang_missing_return_links.csv", "hreflang_non200_hreflang_urls.csv"):
        _csv(os.path.join(ddir, f), ["Address", "Occurrences", "HTML hreflang"],
             [[_url(rng, "html", i + day * 600000), rng.randint(1, 5),
               rng.choice(["de-DE", "en-GB", "fr-FR", "de-AT"])] for i in range(n_hl)])

    # E3 Midoco bookings: ';'-separated latin-1, German dates and decimals
    def ddate(m, d):
        return "%02d.%02d.2024" % (d, m)

    def money(v):
        s = "{:,.2f}".format(v)
        return s.replace(",", "X").replace(".", ",").replace("X", ".")
    places = ["München", "Köln/Bonn", "Düsseldorf", "Berlin"]
    mid = []
    for i in range(n):
        m = rng.randint(1, 12)
        mid.append([
            ddate(rng.randint(1, 4), rng.randint(1, 28)), ddate(m, rng.randint(1, 20)),
            ddate(m, rng.randint(21, 28)),
            _maybe(rng, ddate(rng.randint(1, 4), rng.randint(1, 28)), 0.7),
            money(rng.uniform(100, 5000)), money(rng.uniform(100, 5000)),
            "Büro %s" % rng.choice(places), rng.choice(places),
            "Palma de Mallorca", "Cala Ratjada", rng.choice(["Spanien", "Türkei"]),
            "Hotel Süd %d" % (i % 40), "Pauschal", "Meerblick", "X%d" % i,
            rng.choice(["OK", "STORNO"]), rng.randint(1, 6),
            "junk" if i % 50 == 7 else str(900000 + i)])
    _csv(os.path.join(ddir, "midoco_report.csv"), MIDOCO_HEADER, mid, sep=";",
         encoding="latin-1")

    # E1 Audisto: crawl list with one crawl started on the run date, and
    # two page chunks, the second with an embedded header row
    crawls = [{"id": 100 + day * 10 + k,
               "timestamps": {"started": "2024-04-%02dT03:00:00Z" % (10 + k)}}
              for k in range(3)]
    crawls.append({"id": 100 + day * 10 + 9,
                   "timestamps": {"started": run_date + "T03:00:00Z"}})
    _write(os.path.join(ddir, "audisto_crawls_list.json"), json.dumps(crawls))
    pages = [[_url(rng, "html", i + day * 700000), round(rng.random(), 3),
              round(rng.random(), 3)] for i in range(n)]
    half = n // 2
    _csv(os.path.join(ddir, "audisto_pages_chunk_0.csv"),
         ["Url", "Page Rank", "Chei Rank"], pages[:half])
    _csv(os.path.join(ddir, "audisto_pages_chunk_1.csv"),
         ["Url", "Page Rank", "Chei Rank"], [["Url", "Page Rank", "Chei Rank"]] + pages[half:])

    return {"audisto_pages": n, "html_slim": n_html, "content_history": n_html,
            "content_current": n_html, "bookings": n, "inlinks": n,
            "orphans": orphan_html, "backlinks": n, "images": n_img + n_pic,
            "hreflang_missing": n_hl, "hreflang_non200": n_hl}


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)

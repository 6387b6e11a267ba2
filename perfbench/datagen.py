"""Seeded input generators for the benchmark.

``write_tables`` synthesizes the dawis query inputs (the TPC-H-shaped
star schema plus ``events``, ``documents`` and ``embeddings``) with the
column names, parquet types and value domains of the shipped testdata, so
every query and its DuckDB oracle read them unchanged. ``html_documents``
and ``robots_documents`` build staged fetch documents for the operation
workload (FIXTURES.md sections 2 and 3) and record, per document, what was
planted in it, so the expected checks follow from the records and not from
the program.

The same seed always yields the same files: every random draw comes from
one ``numpy.random.Generator`` per table, seeded from (seed, table).
"""

from __future__ import annotations

import datetime as dt
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64

_DAY_US = 86_400_000_000


def _rng(seed: int, name: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(name.encode())])


def _ts(days_from: dt.date, offsets_us: np.ndarray) -> pa.Array:
    base = (days_from - dt.date(1970, 1, 1)).days * _DAY_US
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, type=pa.int32()), pa.array(values)
    ).cast(pa.string())


def _region():
    return pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": REGIONS,
    })


def _nation():
    return pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    })


def _customer(seed, n):
    rng = _rng(seed, "customer")
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), type=pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    })


def _supplier(seed, n):
    rng = _rng(seed, "supplier")
    return pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), type=pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })


def _part(seed, n):
    rng = _rng(seed, "part")
    keys = np.arange(n, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    return pa.table({
        "p_partkey": pa.array(keys),
        "p_name": _pick(rng, names, n),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), type=pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
    })


def _orders(seed, n, n_cust):
    rng = _rng(seed, "orders")
    span = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days + 1
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(dt.date(1995, 1, 1), rng.integers(0, span, n) * _DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })


def _lineitem(seed, n, n_orders, n_part, n_supp):
    rng = _rng(seed, "lineitem")
    span = (dt.date(2001, 11, 4) - dt.date(1995, 1, 2)).days + 1
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n), type=pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts(dt.date(1995, 1, 2), rng.integers(0, span, n) * _DAY_US),
    })


def _events(seed, n, n_users):
    rng = _rng(seed, "events")
    offsets = np.sort(rng.integers(0, 30 * _DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(dt.date(2024, 1, 1), offsets),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(seed, n):
    """Random word sequences over a 31-word vocabulary; one document in 20
    is another document's text plus a trailing " dup". Copies never copy a
    copy, so every planted near-duplicate cluster has exactly two members
    and the dedup family's work does not depend on the seed."""
    rng = _rng(seed, "documents")
    lengths = rng.integers(10, 100, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, at = [], 0
    for k in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    order = rng.permutation(n)
    k = n // 20
    for i, j in zip(order[:k], order[k:2 * k]):
        texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _embeddings(seed, n):
    rng = _rng(seed, "embeddings")
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1)), EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), type=pa.int32()),
    })


def table_sizes(sf: float, documents: int, embeddings: int) -> dict[str, int]:
    """Row counts at scale factor ``sf``, as in the shipped testdata
    (sf0.1: 15k customers, 150k orders, ~600k lineitems, 100k events)."""
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": int(15_000 * sf),
        "documents": documents,
        "embeddings": embeddings,
    }


def write_tables(out_dir: str, seed: int, sizes: dict[str, int]) -> None:
    """Write ``<out_dir>/<table>.parquet`` for the ten input tables."""
    makers = {
        "region": _region,
        "nation": _nation,
        "customer": lambda: _customer(seed, sizes["customer"]),
        "supplier": lambda: _supplier(seed, sizes["supplier"]),
        "part": lambda: _part(seed, sizes["part"]),
        "orders": lambda: _orders(seed, sizes["orders"], sizes["customer"]),
        "lineitem": lambda: _lineitem(
            seed, sizes["lineitem"], sizes["orders"], sizes["part"], sizes["supplier"]
        ),
        "events": lambda: _events(seed, sizes["events"], sizes["users"]),
        "documents": lambda: _documents(seed, sizes["documents"]),
        "embeddings": lambda: _embeddings(seed, sizes["embeddings"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, make in makers.items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(make(), tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


# --- staged fetch documents for the operation workload -----------------------

_URL = pa.struct([
    pa.field("protocol", pa.string(), nullable=False),
    pa.field("domain", pa.string(), nullable=False),
    pa.field("path", pa.string()),
    pa.field("query", pa.string()),
])
_HEADERS = pa.map_(pa.string(), pa.string())
_REDIRECT = pa.struct([
    pa.field("status_code", pa.int32()),
    pa.field("url", pa.string()),
    pa.field("headers", _HEADERS),
    pa.field("ttfb", pa.float64()),
])
HTML_SCHEMA = pa.schema([
    pa.field("urlset", pa.string(), nullable=False),
    pa.field("url", _URL, nullable=False),
    pa.field("status_code", pa.int32(), nullable=False),
    pa.field("num_redirects", pa.int32(), nullable=False),
    pa.field("redirects", pa.list_(_REDIRECT)),
    pa.field("ttfb", pa.float64(), nullable=False),
    pa.field("body", pa.string(), nullable=False),
    pa.field("rendered", pa.bool_(), nullable=False),
    pa.field("date", pa.timestamp("us"), nullable=False),
    pa.field("headers", _HEADERS),
    pa.field("configuration_hash", pa.string(), nullable=False),
])
ROBOTS_SCHEMA = pa.schema([
    pa.field("urlset", pa.string(), nullable=False),
    pa.field("url", _URL, nullable=False),
    pa.field("status_code", pa.int32()),
    pa.field("body", pa.string(), nullable=False),
    pa.field("headers", _HEADERS),
    pa.field("date", pa.timestamp("us"), nullable=False),
])


def _choice(rng, options: dict):
    keys = list(options)
    return keys[rng.choice(len(keys), p=list(options.values()))]


def _fetch_date(tick: int, i: int, snapshot: int = 0) -> dt.datetime:
    return dt.datetime(2026, 4, 1) + dt.timedelta(days=tick, hours=snapshot, seconds=i)


def html_documents(seed: int, urlset: str, tick: int, n: int):
    """``n`` staged HTML documents of ``urlset`` for fetch tick ``tick``.

    One document in five is a second fetch, an hour later, of a URL the
    tick already fetched, so the title change check has a previous
    snapshot to compare with; seven in ten second fetches keep the first
    one's title. A present title is the page's own (the same
    in both snapshots), a revised one (different in each snapshot) or one
    of five titles shared within the urlset, so the duplicate check finds
    groups. Returns (arrow table, records); each record says what was
    planted in one document: the snapshot, the <h1> count, the title state
    (ok / missing / empty / multi) and text, whether a meta description
    exists, where the canonical points (self / other / none), the status
    code and the content-encoding and cache-control headers (None when
    absent).
    """
    rng = _rng(seed, f"html/{urlset}/{tick}")
    domain = f"www.{urlset}.example"
    n_urls = n - n // 5
    fetches = [(i, 0) for i in range(n_urls)]
    fetches += [(int(i), 1) for i in np.sort(rng.choice(n_urls, n // 5, replace=False))]
    rows, records, first_titles = [], [], {}
    for i, snapshot in fetches:
        path = f"/t{tick}/p{i}.html"
        rec = {
            "urlset": urlset,
            "tick": tick,
            "path": path,
            "snapshot": snapshot,
            "h1": _choice(rng, {0: 0.15, 1: 0.7, 2: 0.15}),
            "title": _choice(rng, {"ok": 0.7, "missing": 0.1, "empty": 0.1, "multi": 0.1}),
            "title_text": {
                "page": f"{urlset} page {tick}-{i}",
                "revised": f"{urlset} page {tick}-{i} revision {snapshot}",
                "shared": f"{urlset} shared title {rng.integers(5)}",
            }[_choice(rng, {"page": 0.7, "revised": 0.1, "shared": 0.2})],
            "description": bool(rng.random() < 0.8),
            "canonical": _choice(rng, {"self": 0.6, "other": 0.2, "none": 0.2}),
            "status": _choice(rng, {200: 0.8, 301: 0.1, 404: 0.05, 500: 0.05}),
            "encoding": _choice(rng, {"gzip": 0.6, "br": 0.2, None: 0.2}),
            "cache": _choice(rng, {"max-age=3600": 0.7, "no-cache": 0.15, None: 0.15}),
        }
        if rec["title"] != "ok":
            rec["title_text"] = ""
        if snapshot == 0:
            first_titles[i] = rec["title"], rec["title_text"]
        elif rng.random() < 0.7:
            rec["title"], rec["title_text"] = first_titles[i]
        head = {
            "ok": f"<title>{rec['title_text']}</title>",
            "missing": "",
            "empty": "<title> </title>",
            "multi": f"<title>first {i}</title><title>second {i}</title>",
        }[rec["title"]]
        if rec["description"]:
            head += f'<meta name="description" content="about page {tick}-{i}">'
        if rec["canonical"] == "self":
            head += f'<link rel="canonical" href="https://{domain}{path}">'
        elif rec["canonical"] == "other":
            head += '<link rel="canonical" href="https://elsewhere.example/">'
        h1s = "".join(f"<h1>heading {k}</h1>" for k in range(rec["h1"]))
        headers = {}
        if rec["encoding"]:
            # mixed-case keys and values: the module lowercases both
            key = "Content-Encoding" if i % 2 else "content-encoding"
            headers[key] = rec["encoding"].upper() if i % 3 == 0 else rec["encoding"]
        if rec["cache"]:
            headers["Cache-Control"] = rec["cache"]
        rows.append({
            "urlset": urlset,
            "url": {"protocol": "https", "domain": domain, "path": path, "query": ""},
            "status_code": rec["status"],
            "num_redirects": 0,
            "redirects": [],
            "ttfb": float(rng.uniform(20.0, 900.0)),
            "body": f"<html><head>{head}</head><body>{h1s}<p>text {i}</p></body></html>",
            "rendered": False,
            "date": _fetch_date(tick, i, snapshot),
            "headers": list(headers.items()),
            "configuration_hash": "perfbench",
        })
        records.append(rec)
    return pa.Table.from_pylist(rows, schema=HTML_SCHEMA), records


def robots_documents(seed: int, urlset: str, tick: int, n: int):
    """``n`` staged robots.txt documents; each record holds the status code
    (None for a fetch error) and whether a Sitemap line was planted."""
    rng = _rng(seed, f"robots/{urlset}/{tick}")
    rows, records = [], []
    for i in range(n):
        domain = f"site{tick}-{i}.{urlset}.example"
        rec = {
            "urlset": urlset,
            "tick": tick,
            "path": f"/t{tick}/robots{i}.txt",
            "status": _choice(rng, {200: 0.7, 404: 0.15, None: 0.15}),
            "sitemap": bool(rng.random() < 0.6),
        }
        body = "User-agent: *\nDisallow: /private/\n"
        if rec["sitemap"]:
            body += f"Sitemap: https://{domain}/sitemap.xml\n"
        rows.append({
            "urlset": urlset,
            "url": {"protocol": "https", "domain": domain, "path": rec["path"], "query": ""},
            "status_code": rec["status"],
            "body": body,
            "headers": [("Content-Type", "text/plain")],
            "date": _fetch_date(tick, i),
        })
        records.append(rec)
    return pa.Table.from_pylist(rows, schema=ROBOTS_SCHEMA), records


# the module settings ``expected_checks`` can derive expectations for
_KNOWN = {
    "htmlheadings": {"count_headline_h1"},
    "metatags": {"title", "description", "canonical"},
    "metatags.title": {"has_title", "is_title_empty", "has_title_changed",
                       "has_title_duplicates", "problem_multi"},
    "metatags.description": {"has_description"},
    "responseheader": {"status_code", "content_encoding", "cache_control"},
    "robotstxt": {"status_code", "has_sitemap_xml"},
}


def _known(where: str, cfg: dict) -> dict:
    unknown = set(cfg) - _KNOWN[where]
    if unknown:
        raise ValueError(f"no planted values to check {where} settings {sorted(unknown)}")
    return cfg


def expected_checks(records: list[dict], settings: dict[str, dict]) -> dict[tuple[str, str], list[int]]:
    """(urlset, check) -> [valid, invalid] counts that the operation modules
    must append for these documents (one tick's), derived from what was
    planted and the module settings (module -> {urlset: settings})."""
    out: dict[tuple[str, str], list[int]] = {}
    by_url: dict[tuple[str, str], list[dict]] = {}

    def add(urlset, check, valid):
        out.setdefault((urlset, check), [0, 0])[0 if valid else 1] += 1

    for r in records:
        u = r["urlset"]
        if "sitemap" in r:
            cfg = _known("robotstxt", settings["robotstxt"].get(u, {}))
            if "status_code" in cfg:
                add(u, "robotstxt-status_code", r["status"] == int(cfg["status_code"]["assert"]))
            if cfg.get("has_sitemap_xml"):
                add(u, "robotstxt-has_sitemap_xml", r["sitemap"])
            continue
        cfg = _known("htmlheadings", settings["htmlheadings"].get(u, {}))
        if cfg:
            add(u, "htmlheadings-count_headline_h1",
                r["h1"] == int(cfg["count_headline_h1"]["assert"]))
        cfg = _known("responseheader", settings["responseheader"].get(u, {}))
        if "status_code" in cfg:
            add(u, "responseheader-status_code", r["status"] == cfg["status_code"]["assert"])
        for key, got in (("content_encoding", r["encoding"]), ("cache_control", r["cache"])):
            if key in cfg:
                add(u, f"responseheader-{key}", got == str(cfg[key]["assert"]).lower())
        cfg = _known("metatags", settings["metatags"].get(u, {}))
        title = _known("metatags.title", cfg.get("title", {}))
        if r["title"] == "multi":
            if "problem_multi" in title:
                add(u, "metatags-problem-multi-title", False)
        else:
            if "has_title" in title:
                add(u, "metatags-has_title", (r["title"] == "ok") == bool(title["has_title"]))
            if "is_title_empty" in title:
                add(u, "metatags-is_title_empty",
                    (r["title"] != "ok") == bool(title["is_title_empty"]))
            by_url.setdefault((u, r["path"]), []).append(r)
        description = _known("metatags.description", cfg.get("description", {}))
        if "has_description" in description:
            add(u, "metatags-has_description",
                r["description"] == bool(description["has_description"]))
        if "canonical" in cfg:
            if cfg["canonical"] is not True:
                raise ValueError("no planted values to check metatags canonical settings")
            add(u, "metatags-canonical_is_self_referencing", r["canonical"] == "self")

    # The change and duplicate checks see each URL's single-title snapshots:
    # the latest against the one before it, and the latest non-empty titles
    # across the urlset.
    latest: dict[str, dict[str, int]] = {}
    for (u, _), snaps in by_url.items():
        title = settings["metatags"][u].get("title", {})
        snaps.sort(key=lambda r: r["snapshot"])
        if "has_title_changed" in title and len(snaps) > 1:
            changed = snaps[-1]["title_text"] != snaps[-2]["title_text"]
            add(u, "metatags-has_title_changed", changed == bool(title["has_title_changed"]))
        if snaps[-1]["title_text"]:
            texts = latest.setdefault(u, {})
            texts[snaps[-1]["title_text"]] = texts.get(snaps[-1]["title_text"], 0) + 1
    for (u, _), snaps in by_url.items():
        title = settings["metatags"][u].get("title", {})
        if "has_title_duplicates" in title and snaps[-1]["title_text"]:
            dup = latest[u][snaps[-1]["title_text"]] > 1
            add(u, "metatags-has_title_duplicates", dup == bool(title["has_title_duplicates"]))
    return out

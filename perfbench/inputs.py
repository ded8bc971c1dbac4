"""Seeded input generation for the two benchmark workloads.

Every table is produced with NumPy from ``--seed`` alone, so one seed gives
byte-identical parquet files (``test_inputs.py`` checks it).  The engine
never sees the seed: it receives only the generated directories.

Inputs are cached on disk under ``perfbench/_cache/<workload>-<size>-s<seed>``
and built atomically (temp dir, then rename), so a killed run leaves no
half-written cache behind.  Building the cache is not part of any timed or
set-up figure.

Sizes (fixed; stated in NOTES.md):

* ``llm_dedup`` - ``DEDUP_DOCS`` documents and ``DEDUP_VECS`` 64-d unit
  embeddings; ``DUP_RATE`` of each are injected near-duplicates of an
  earlier row (one word substituted / N(0, 0.01) noise per dimension).
* ``snapshot_etl`` - ``ETL_DOCS`` documents as a ZIP-of-XML corpus, plus a
  delta of ``ETL_CHANGED`` re-delivered changed documents and ``ETL_NEW``
  new ones as one XML file, in the exact text ``etl.render_snapshot_zips``
  and ``etl.render_snapshot`` write.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, "_cache")

# --- sizes -------------------------------------------------------------------
DEDUP_DOCS = 1200
DEDUP_VECS = 500
DUP_RATE = 0.10
ETL_DOCS = 4000
ETL_CHANGED = 200
ETL_NEW = 200
DOCS_PER_ARCHIVE = 250

DEDUP_KEYS = ("j2", "j9", "j11", "j37")
ETL_KEYS = ("a10", "a11", "a12", "a13", "a14")

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.41, 0.15, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_WORDS = ("small", "large", "red", "hot", "ring", "bolt", "widget", "gear")
PART_TYPES = ("ECONOMY", "SMALL", "LARGE", "STANDARD", "PROMO", "MEDIUM")

_US_PER_DAY = 86_400_000_000


# --- table builders ----------------------------------------------------------
def _write(path: str, cols: dict[str, pa.Array]) -> None:
    # no pandas metadata, fixed writer options: the bytes depend only on
    # the values, which is what the determinism test pins
    pq.write_table(pa.table(cols), path, compression="snappy", store_schema=False)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    # whole cents, so DECIMAL(9,2) casts are exact on both engines
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    base = (start - dt.date(1970, 1, 1)).days
    return (base + rng.integers(0, (end - start).days, n)) * _US_PER_DAY


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _texts(rng, n: int, dup_rate: float) -> list[str]:
    """Bag-of-words documents; ``dup_rate`` of them copy an earlier document
    with one word substituted (an exact copy when shorter than 20 words)."""
    lens = rng.integers(10, 101, n)
    out: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < dup_rate:
            words = out[int(rng.integers(0, i))].split(" ")
            if len(words) >= 20:
                j = int(rng.integers(0, len(words)))
                words[j] = VOCAB[(VOCAB.index(words[j]) + 1) % len(VOCAB)]
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), lens[i])]
        out.append(" ".join(words))
    return out


def _documents(rng, n: int, dup_rate: float, first_id: int = 0) -> dict:
    texts = _texts(rng, n, dup_rate)
    return {
        "doc_id": pa.array(np.arange(first_id, first_id + n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[k] for k in rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }


def _embeddings(rng, n: int, dup_rate: float) -> dict:
    """64-d unit vectors; ``dup_rate`` of them are an earlier vector plus
    N(0, 0.01) noise per dimension (cosine about 0.997 to their source)."""
    v = rng.standard_normal((n, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    for i in range(11, n):
        if rng.random() < dup_rate:
            v[i] = v[int(rng.integers(0, i))] + rng.normal(0.0, 0.01, 64)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return {
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype("int32")),
    }


def write_corpus(out: str, seed: int, sf: float) -> None:
    """The ten tables of the engine's corpus (FIXTURES.md shapes) at ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(REGIONS),
    })
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
    })
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array([SEGMENTS[k] for k in rng.integers(0, 5, n_cust)]),
    })
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    w = rng.integers(0, len(PART_WORDS), (n_part, 2))
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": pa.array([f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in w]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([PART_TYPES[k] for k in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(np.round(900.0 + 0.1 * np.arange(n_part), 1)),
    })
    odate = _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord)
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array([("F", "O", "P")[k] for k in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array([PRIORITIES[k] for k in rng.integers(0, 5, n_ord)]),
    })
    lo = rng.integers(0, n_ord, n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(lo),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype("int32")),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_money(rng, 900.0, 100_000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[k] for k in rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([("F", "O")[k] for k in rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(odate[lo] + rng.integers(1, 122, n_li) * _US_PER_DAY),
    })
    t0 = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * _US_PER_DAY
    _write(f"{out}/events.parquet", {
        "event_id": pa.array(np.arange(n_ev, dtype="int64")),
        "ts": _ts(np.sort(t0 + rng.integers(0, 29 * _US_PER_DAY, n_ev))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array([EVENT_TYPES[k] for k in rng.integers(0, 5, n_ev)]),
        "value": pa.array(_money(rng, 0.0, 560.0, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    _write(f"{out}/documents.parquet", _documents(rng, int(50_000 * sf), 0.002))
    _write(f"{out}/embeddings.parquet", _embeddings(rng, int(20_000 * sf), 0.0))


# --- order-insensitive result hashes -------------------------------------------
def _canon(v):
    """One cell in comparable form (tests/oracle_harness.py's rules)."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def rows_hash(cols: list[str], rows) -> dict:
    """Hash of a result as a set of rows: columns sorted by name, cells
    canonicalized, rows sorted.  Returns ``{"rows": n, "hash": hex}``."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        (tuple(_canon(r[i]) for i in order) for r in rows), key=repr
    )
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for r in canon:
        h.update(repr(r).encode())
    return {"rows": len(canon), "hash": h.hexdigest()}


def duck(views: dict[str, str]):
    """A DuckDB connection with one view per ``name -> parquet path``."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for name, path in views.items():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def sql_hash(con, sql: str) -> dict:
    res = con.execute(sql)
    return rows_hash([d[0] for d in res.description], res.fetchall())


def corpus_views(sf_dir: str) -> dict[str, str]:
    from scopus_spark.catalog import TABLES

    return {t: f"{sf_dir}/{t}.parquet" for t in TABLES}


def _oracle_hashes(views: dict[str, str], keys) -> dict:
    from scopus_spark import registry

    oracles = registry.all_oracles()
    con = duck(views)
    try:
        return {k: sql_hash(con, oracles[k]) for k in keys}
    finally:
        con.close()


# --- llm_dedup ------------------------------------------------------------------
# graph nodes: doc ids as they are, vec ids (j37 twins included) shifted
VEC_NODE_OFFSET = 10_000_000


def components(edges) -> list[tuple[int, int]]:
    """(node, min node id of its component) by union-find: the reference
    for ``graph.connected_components``."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(n, find(n)) for n in parent]


def _build_dedup(out: str, seed: int) -> dict:
    from scopus_spark import registry

    rng = np.random.default_rng([seed, 2])
    corpus = f"{out}/corpus"
    os.makedirs(corpus)
    write_corpus(corpus, seed, 0.001)  # tiny dims: register_views reads all ten
    _write(f"{corpus}/documents.parquet", _documents(rng, DEDUP_DOCS, DUP_RATE))
    _write(f"{corpus}/embeddings.parquet", _embeddings(rng, DEDUP_VECS, DUP_RATE))
    oracles = registry.all_oracles()
    con = duck(corpus_views(corpus))
    expected, edges = {}, []
    try:
        for k in DEDUP_KEYS:
            res = con.execute(oracles[k])
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            expected[k] = rows_hash(cols, rows)
            if k in ("j2", "j9", "j11"):
                edges += [(r[0], r[1]) for r in rows]
            elif k == "j37":
                edges += [
                    (r[0] + VEC_NODE_OFFSET, r[1] + VEC_NODE_OFFSET) for r in rows
                ]
    finally:
        con.close()
    expected["cc"] = rows_hash(["node", "comp_id"], components(edges))
    return expected


# --- snapshot_etl -------------------------------------------------------------------
def _merged_docs_sql(base: str, delta: str) -> str:
    """The merged document set with each doc's citation modulus: a document
    renders its references against the size of the snapshot it came in."""
    return f"""
    WITH b AS (SELECT * FROM read_parquet('{base}')),
         d AS (SELECT * FROM read_parquet('{delta}'))
    SELECT b.*, (SELECT count(*) FROM b) AS n_snap FROM b
    WHERE b.doc_id NOT IN (SELECT doc_id FROM d)
    UNION ALL
    SELECT d.*, (SELECT count(*) FROM d) AS n_snap FROM d
    """


# expected content of the doc_bucket-partitioned fact tables after a merge,
# over a ``docs`` relation carrying n_snap (the renderer's formulas, etl.py)
MERGED_TABLE_SQL = {
    "records": """SELECT doc_id, lang, source, n_chars, 1990 + doc_id % 30 AS pubyear,
        'issn_' || source AS issn, doc_id % 16 AS doc_bucket FROM docs""",
    "author_links": """SELECT doc_id, seq, (doc_id*7 + seq*13) % 997 AS auid,
        'author_' || CAST((doc_id*7 + seq*13) % 997 AS VARCHAR) AS name,
        ((doc_id*7 + seq*13) % 997) % 53 AS afid, doc_id % 16 AS doc_bucket
        FROM (SELECT doc_id, unnest(range(0, 1 + doc_id % 3)) AS seq FROM docs)""",
    "citation_edges": """SELECT doc_id AS citing_doc_id,
        (doc_id*17 + j*29 + 1) % n_snap AS cited_doc_id, doc_id % 16 AS doc_bucket
        FROM (SELECT doc_id, n_snap, unnest(range(0, doc_id % 4)) AS j FROM docs)""",
    "subject_codes": """SELECT doc_id, 'SUBJ_' || CAST((doc_id*11 + k*5) % 40 AS VARCHAR)
        AS code, doc_id % 16 AS doc_bucket
        FROM (SELECT doc_id, unnest(range(0, 1 + doc_id % 2)) AS k FROM docs)""",
    "record_terms": """SELECT doc_id, pos, w[pos + 1] AS term, doc_id % 16 AS doc_bucket
        FROM (SELECT doc_id, w, unnest(range(0, len(w))) AS pos
              FROM (SELECT doc_id, string_split(text, ' ') AS w FROM docs))""",
}


# --- snapshot rendering -------------------------------------------------------------
# The ZIP-of-XML corpus and the XML delta are written here in Python, in the
# exact text ``etl.render_snapshot_zips`` / ``etl.render_snapshot`` produce
# (test_inputs.py compares them byte for byte).  Rendering through Spark
# would need a JVM before the measured one, or warm the measured JVM before
# its cold pass; and the Spark renderer stamps archives with the wall clock.
def _xml_record(doc: dict, n_docs: int, indent: str) -> list[str]:
    d = doc["doc_id"]
    i1, i2, i3 = indent + "    ", indent + "        ", indent + "            "
    out = [f"{indent}<record>", f"{i1}<doc_id>{d}</doc_id>",
           f"{i1}<lang>{doc['lang']}</lang>", f"{i1}<source>{doc['source']}</source>",
           f"{i1}<n_chars>{doc['n_chars']}</n_chars>", f"{i1}<terms>"]
    out += [f'{i2}<term pos="{k}">{w}</term>' for k, w in enumerate(doc["text"].split(" "))]
    out.append(f"{i1}</terms>")
    authors = [((d * 7 + s * 13) % 997, s) for s in range(1 + d % 3)]
    out.append(f"{i1}<authors>")
    for auid, seq in authors:
        out += [f"{i2}<author>", f"{i3}<auid>{auid}</auid>", f"{i3}<name>author_{auid}</name>",
                f"{i3}<seq>{seq}</seq>", f"{i3}<afid>{auid % 53}</afid>", f"{i2}</author>"]
    out += [f"{i1}</authors>", f"{i1}<affiliations>"]
    for afid in sorted({auid % 53 for auid, _ in authors}):
        out += [f"{i2}<affiliation>", f"{i3}<afid>{afid}</afid>",
                f"{i3}<country>C{afid % 7}</country>", f"{i2}</affiliation>"]
    out.append(f"{i1}</affiliations>")
    refs = [(d * 17 + j * 29 + 1) % n_docs for j in range(d % 4)]
    if refs:
        out += [f"{i1}<references>"] + [f"{i2}<ref>{r}</ref>" for r in refs]
        out.append(f"{i1}</references>")
    else:
        out.append(f"{i1}<references/>")
    out += [f"{i1}<pubyear>{1990 + d % 30}</pubyear>",
            f"{i1}<issn>issn_{doc['source']}</issn>", f"{i1}<subjects>"]
    out += [f"{i2}<subject>SUBJ_{(d * 11 + k * 5) % 40}</subject>" for k in range(1 + d % 2)]
    out += [f"{i1}</subjects>", f"{indent}</record>"]
    return out


def _rows(cols: dict) -> list[dict]:
    names = list(cols)
    return [dict(zip(names, r)) for r in zip(*(cols[n].to_pylist() for n in names))]


def render_zips(cols: dict, zip_dir: str, docs_per_archive: int) -> None:
    """``etl.render_snapshot_zips``: archive_<n>.zip of record_<id>.xml."""
    import zipfile

    os.makedirs(zip_dir)
    docs = _rows(cols)
    archives: dict[int, list[tuple[str, str]]] = {}
    for doc in docs:
        xml = "\n".join(_xml_record(doc, len(docs), ""))
        archives.setdefault(doc["doc_id"] // docs_per_archive, []).append(
            (f"record_{doc['doc_id']}.xml", xml)
        )
    for no, members in sorted(archives.items()):
        with zipfile.ZipFile(
            f"{zip_dir}/archive_{no:06d}.zip", "w", zipfile.ZIP_DEFLATED, compresslevel=1
        ) as zf:
            for name, xml in sorted(members):
                zf.writestr(zipfile.ZipInfo(name, (2020, 1, 1, 0, 0, 0)), xml,
                            compress_type=zipfile.ZIP_DEFLATED, compresslevel=1)


def render_xml(cols: dict, xml_dir: str) -> None:
    """``etl.render_snapshot``: one multi-record XML file."""
    os.makedirs(xml_dir)
    docs = _rows(cols)
    lines = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>', "<snapshot>"]
    for doc in docs:
        lines += _xml_record(doc, len(docs), "    ")
    lines.append("</snapshot>")
    with open(f"{xml_dir}/part-00000.xml", "w") as fh:
        fh.write("\n".join(lines))


def _build_etl(out: str, seed: int) -> dict:
    rng = np.random.default_rng([seed, 4])
    base, delta = f"{out}/base", f"{out}/delta"
    os.makedirs(base)
    os.makedirs(delta)
    docs = _documents(rng, ETL_DOCS, 0.0)
    _write(f"{base}/documents.parquet", docs)
    # delta: ETL_CHANGED re-delivered docs with new text/lang, ETL_NEW new docs
    changed = np.sort(rng.choice(ETL_DOCS, ETL_CHANGED, replace=False))
    fresh = _documents(rng, ETL_CHANGED + ETL_NEW, 0.0, first_id=ETL_DOCS)
    ids = np.concatenate([changed, np.arange(ETL_DOCS, ETL_DOCS + ETL_NEW)])
    srcs = docs["source"].to_pylist()
    fresh["doc_id"] = pa.array(ids.astype("int64"))
    # a changed doc keeps its source (the sources dimension is not merged)
    fresh["source"] = pa.array(
        [srcs[i] if i < ETL_DOCS else s
         for i, s in zip(ids, fresh["source"].to_pylist())]
    )
    _write(f"{delta}/documents.parquet", fresh)
    render_zips(docs, f"{out}/zips", DOCS_PER_ARCHIVE)
    render_xml(fresh, f"{out}/delta_xml")
    expected = _oracle_hashes({"documents": f"{base}/documents.parquet"}, ETL_KEYS)
    con = duck({})
    try:
        con.execute(
            "CREATE VIEW docs AS "
            + _merged_docs_sql(f"{base}/documents.parquet", f"{delta}/documents.parquet")
        )
        expected["merged"] = {
            t: sql_hash(con, q) for t, q in MERGED_TABLE_SQL.items()
        }
    finally:
        con.close()
    import zipfile

    expected["xml_bytes"] = 0
    for f in sorted(os.listdir(f"{out}/zips")):
        with zipfile.ZipFile(f"{out}/zips/{f}") as zf:
            expected["xml_bytes"] += sum(i.file_size for i in zf.infolist())
    return expected


def spark_dirs(root: str) -> dict[str, str]:
    """Session confs that keep every Spark scratch file under ``root``."""
    os.makedirs(root, exist_ok=True)
    return {
        "spark.local.dir": f"{root}/local",
        "spark.sql.warehouse.dir": f"{root}/warehouse",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={root} -Dderby.system.home={root}"
        ),
    }


# --- cache ----------------------------------------------------------------------------
BUILDERS = {
    "llm_dedup": (f"d{DEDUP_DOCS}-v{DEDUP_VECS}-r{DUP_RATE}", _build_dedup),
    "snapshot_etl": (f"d{ETL_DOCS}-c{ETL_CHANGED}-n{ETL_NEW}", _build_etl),
}


def ensure(workload: str, seed: int) -> tuple[str, dict]:
    """Return (input dir, expected results) for a workload and seed,
    building them on first use."""
    size, build = BUILDERS[workload]
    final = os.path.join(CACHE, f"{workload}-{size}-s{seed}")
    if not os.path.isfile(f"{final}/expected.json"):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        try:
            expected = build(tmp, seed)
            expected["input_rows"], expected["input_bytes"] = _sizes(tmp)
            with open(f"{tmp}/expected.json", "w") as fh:
                json.dump(expected, fh, indent=1, sort_keys=True)
            shutil.rmtree(final, ignore_errors=True)
            os.replace(tmp, final)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    with open(f"{final}/expected.json") as fh:
        return final, json.load(fh)


def _sizes(root: str) -> tuple[dict, int]:
    rows, total = {}, 0
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            total += os.path.getsize(p)
            rel = os.path.relpath(p, root)
            if f.endswith(".parquet") and not rel.startswith("_"):
                rows[rel] = pq.ParquetFile(p).metadata.num_rows
    return rows, total



"""The two workloads: what one pass does and how its outputs are checked.

A workload is built from ``(spark, input dir, expected results)``.  Each
pass gets a fresh hard-linked copy of the inputs and a fresh output dir, so
no op is served from a process-global cache keyed by path (such as the
engine's ``catalog._REGISTERED``) or reads a previous pass's output.

``ops(pass_ctx)`` yields ``(op name, layer, callable)``; the callable does
the op's layer calls inside spans and forces full computation with a
parquet write.  ``check(pass_ctx)`` runs after the pass, outside the timed
region, and returns the names of the ops whose output was wrong.
"""

from __future__ import annotations

import os
import shutil

import inputs
from inputs import duck, sql_hash


def link_tree(src: str, dst: str) -> None:
    """Hard-link copy of an input tree (same bytes, a new path)."""
    shutil.copytree(src, dst, copy_function=os.link)


class Pass:
    """Per-pass paths: ``root/in`` (inputs) and ``root/out`` (outputs)."""

    def __init__(self, root: str, index: int):
        self.root = root
        self.index = index
        self.inp = f"{root}/in"
        self.out = f"{root}/out"
        self.results: dict[str, object] = {}
        self.layer_stats: dict[str, float] = {}


class Workload:
    name = ""
    input_subdirs: tuple[str, ...] = ()
    views = False  # register the staged corpus with catalog.register_views

    def __init__(self, spark, src: str, expected: dict, tracer):
        self.spark = spark
        self.src = src
        self.expected = expected
        self.tracer = tracer

    def new_pass(self, root: str, index: int) -> Pass:
        """Stage the inputs under ``root`` and register what the workload
        reads.  For the first pass this is the run's set-up staging."""
        from scopus_spark.catalog import register_views

        p = Pass(root, index)
        os.makedirs(p.out)
        for sub in self.input_subdirs:
            link_tree(f"{self.src}/{sub}", f"{p.inp}/{sub}")
        if self.views:
            with self.tracer.span("catalog.register_views"):
                register_views(self.spark, f"{p.inp}/corpus")
        return p

    def after_op(self, p: Pass, name: str) -> None:
        """Checks that must see the state between two ops (outside the
        op's timed span)."""


def _read_hash(path: str) -> dict:
    con = duck({"t": f"{path}/**/*.parquet"})
    try:
        return sql_hash(con, "SELECT * FROM t")
    finally:
        con.close()


# --- llm_dedup ----------------------------------------------------------------------
class LlmDedup(Workload):
    """Near-dup pairs four ways, then components over all the pairs."""

    name = "llm_dedup"
    input_subdirs = ("corpus",)
    views = True
    LAYERS = {  # op -> the layer its time is reported under
        "j2": "dedup.prefix",
        "j9": "dedup.lsh",
        "j11": "dedup.simhash",
        "j37": "similarity.threshold",
        "cc": "graph.cc",
    }

    def _write(self, df, path: str) -> None:
        with self.tracer.span("spark.write"):
            df.write.mode("overwrite").parquet(path)

    def ops(self, p: Pass):
        from pyspark.sql import functions as F

        from scopus_spark import registry
        from scopus_spark.operators import graph

        spark, sf_dir, tr = self.spark, f"{p.inp}/corpus", self.tracer
        queries = registry.all_queries()

        def key_op(key):
            # the registry key builds its plan (j2 -> dedup.prefix_filter_pairs,
            # j37 -> similarity.threshold_pair_join, ...); the write runs it
            def op():
                with tr.span(f"registry.{key}"):
                    df = queries[key](spark, sf_dir)
                self._write(df, f"{p.out}/{key}")

            return op

        def cc():
            off = F.lit(inputs.VEC_NODE_OFFSET)
            edges = [
                spark.read.parquet(f"{p.out}/{k}").select(
                    F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                )
                for k in ("j2", "j9", "j11")
            ]
            edges.append(
                spark.read.parquet(f"{p.out}/j37").select(
                    (F.col("vec_a") + off).alias("src"),
                    (F.col("vec_b") + off).alias("dst"),
                )
            )
            union = edges[0]
            for e in edges[1:]:
                union = union.unionByName(e)
            with tr.span("graph.connected_components"):
                df = graph.connected_components(union, "src", "dst")
            self._write(df, f"{p.out}/cc")

        for name, layer in self.LAYERS.items():
            yield name, layer, cc if name == "cc" else key_op(name)

    def check(self, p: Pass) -> list[str]:
        bad = []
        for key in self.LAYERS:
            got = _read_hash(f"{p.out}/{key}")
            p.results[key] = got["rows"]
            if got != self.expected[key]:
                bad.append(key)
        # the rows the program wrote, for the per-layer pair counts
        p.layer_stats["dedup.pairs"] = sum(p.results[k] for k in ("j2", "j9", "j11"))
        p.layer_stats["similarity.pairs"] = p.results["j37"]
        return bad


# --- snapshot_etl -----------------------------------------------------------------
# the a10-a14 key projections over the extracted tables (DuckDB side)
EXTRACT_CHECK_SQL = {
    "a10": "SELECT doc_id, lang, source, n_chars, doc_bucket FROM records",
    "a11": "SELECT doc_id, seq, auid, name, afid FROM author_links",
    "a12": "SELECT citing_doc_id, cited_doc_id FROM citation_edges",
    "a13": """SELECT c.doc_id, r.pubyear, c.code FROM subject_codes c
              JOIN records r ON c.doc_id = r.doc_id""",
    "a14": """SELECT s.source, s.issn, n.n_docs FROM sources s JOIN
              (SELECT source, count(*) AS n_docs FROM records GROUP BY source) n
              ON s.source = n.source""",
}


def _tables_con(tables: str, names):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in names:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
            f"'{tables}/{t}/**/*.parquet', hive_partitioning = true)"
        )
    return con


def _file_set(root: str) -> dict[str, frozenset]:
    """partition dir -> its data file names (what a rewrite replaces)."""
    out = {}
    for d in sorted(os.listdir(root)):
        if "=" in d and not d.startswith("."):
            out[d] = frozenset(os.listdir(f"{root}/{d}"))
    return out


def _tree_bytes(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(root):
        for f in names:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size


class SnapshotEtl(Workload):
    """Extract a ZIP-of-XML snapshot, publish, and merge a delta two ways."""

    name = "snapshot_etl"
    input_subdirs = ("zips", "delta_xml")
    LAYERS = {
        "extract": "etl.extract",
        "publish": "manifest.publish",
        "merge": "etl.merge",
        "vt_merge": "manifest.merge",
    }
    UPSERT_TABLES = ("records", "record_terms", "author_links",
                     "citation_edges", "subject_codes")

    def ops(self, p: Pass):
        from scopus_spark import etl
        from scopus_spark.operators.manifest import VersionedTable

        spark, tr = self.spark, self.tracer
        tables, vt_root = f"{p.out}/tables", f"{p.out}/vt"
        state = {}

        def extract():
            with tr.span("etl.extract_snapshot_zips"):
                etl.extract_snapshot_zips(spark, f"{p.inp}/zips", tables)

        def publish():
            vt = VersionedTable(vt_root)
            with tr.span("VersionedTable.write_initial"):
                vt.write_initial(spark.read.parquet(f"{tables}/records"), "doc_bucket")
            state["vt"] = vt

        def merge():
            if tr.enabled:
                before = {t: _file_set(f"{tables}/{t}") for t in self.UPSERT_TABLES}
            with tr.span("etl.merge_snapshot"):
                state["delta"] = etl.merge_snapshot(spark, f"{p.inp}/delta_xml", tables)
            if tr.enabled:
                after = {t: _file_set(f"{tables}/{t}") for t in self.UPSERT_TABLES}
                p.layer_stats["upsert.partitions_rewritten"] = sum(
                    1 for t in self.UPSERT_TABLES
                    for d, files in after[t].items() if before[t].get(d) != files
                )

        def vt_merge():
            with tr.span("VersionedTable.merge"):
                state["vt"].merge(
                    state["delta"]["records"], key_cols=["doc_id"],
                    partition_col="doc_bucket",
                )

        for name, fn in zip(self.LAYERS, (extract, publish, merge, vt_merge)):
            yield name, self.LAYERS[name], fn

    def after_op(self, p: Pass, name: str) -> None:
        if name == "extract":
            tables = f"{p.out}/tables"
            con = _tables_con(tables, ("records", "author_links", "citation_edges",
                                       "subject_codes", "sources"))
            try:
                p.results["extract_bad"] = [
                    k for k, q in EXTRACT_CHECK_SQL.items()
                    if sql_hash(con, q) != self.expected[k]
                ]
            finally:
                con.close()
            if self.tracer.enabled:
                files, size = _tree_bytes(tables)
                p.layer_stats["etl.files_written"] = files
                p.layer_stats["etl.output_mb"] = size / 2**20
                p.layer_stats["etl.write_amp"] = size / self.expected["xml_bytes"]
        elif name == "vt_merge" and self.tracer.enabled:
            from scopus_spark.operators.manifest import VersionedTable

            vt = VersionedTable(f"{p.out}/vt")
            added = [
                len([f for f in os.listdir(f"{vt.root}/{d}") if f.endswith(".parquet")])
                for v in range(1, vt.version() + 1)
                for dirs in vt.commit_info(v)["added"].values()
                for d in dirs
            ]
            p.layer_stats["manifest.commits"] = vt.version()
            p.layer_stats["manifest.files_per_commit"] = sum(added) / vt.version()

    def check(self, p: Pass) -> list[str]:
        bad = ["extract"] if p.results.get("extract_bad") else []
        tables = f"{p.out}/tables"
        merged = self.expected["merged"]
        con = _tables_con(tables, merged)
        try:
            if any(
                sql_hash(con, f"SELECT * FROM {t}") != h for t, h in merged.items()
            ):
                bad.append("merge")
        finally:
            con.close()
        got = self._vt_hash(f"{p.out}/vt")
        if got != merged["records"]:
            bad.append("vt_merge")
        return bad

    @staticmethod
    def _vt_hash(root: str) -> dict:
        """Content of the VersionedTable's current snapshot, read through
        its manifest's data dirs with DuckDB (no Spark job in the check)."""
        from scopus_spark.operators.manifest import VersionedTable

        files = [
            f"{root}/{d}/*.parquet" for d in VersionedTable(root).data_dirs()
        ]
        import duckdb

        con = duckdb.connect()
        try:
            return sql_hash(
                con,
                f"SELECT * FROM read_parquet({files!r}, hive_partitioning = false)",
            )
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (LlmDedup, SnapshotEtl)}

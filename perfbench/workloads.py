"""The workloads. Each one generates its inputs from the seed,
writes them to parquet, and then drives the engine only through its
public functions on those files.

A workload runs in rounds; a round runs each of its ops once. An op's
time covers the engine calls and the action that forces their output;
checks and restores run outside the timer. Under a tracer, each call
into a layer sits in a span that tags the Spark jobs it starts.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
from pyspark.sql import functions as F

import checks
import gen

# Input sizes (rows). Chosen so a run plan of 48 runs fits its time on a
# 4-core box while each op still does its real work (see NOTES.md,
# Sizing).
SYNC_ROWS = 40_000
CORPUS_BASE_DOCS = 500
CORPUS_REPLICAS = 2
CORPUS_CHAINS = 30
#: planted documents the standalone signature pass hashes (see _dedup)
HASHED_DOCS = 40
ANN_BASE_VECS = 1_000
ANN_REPLICAS = 4

MINHASH = dict(k=3, n_perm=32, bands=8, threshold=0.2)
SIMHASH = dict(bits=60, max_hamming=3)
#: the registry entry the winnow op runs: winnowing_match_pairs(k=3,
#: window=4, min_shared=2, max_fp_df=20) over <dir>/documents.parquet
WINNOW_QUERY = "dedup_winnowing_pairs"
IVFPQ = dict(n_cells=16, m_sub=8, k_codes=16, dim=64)  # = storage_ivfpq_index
TOPK = dict(k=10, nprobe=4, m_sub=8, dim=64)
QUERY_MOD = 100


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def materialize(df):
    """persist + count: forces ``df`` and keeps it for the next step."""
    df = df.persist()
    return df, df.count()


def isolate(spark) -> None:
    """Between ops (as bench.py does between queries): drop what the
    previous op cached and let the driver GC release its shuffle and
    broadcast state."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


class Workload:
    name = ""
    ops: list[str] = []

    def __init__(self, spark, tracer, work_dir: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.dir = work_dir
        self.seed = seed
        self.counts: dict[str, list[float]] = {}
        self.hashes: dict[str, str] = {}
        self.quality: dict[str, float] = {}

    def count(self, name: str, value: float) -> None:
        self.counts.setdefault(name, []).append(value)

    def prepare(self) -> dict:
        """Generate and write the inputs; return their sizes."""
        raise NotImplementedError

    def run_op(self, op: str, check: bool) -> tuple[float, list[str]]:
        """Run one op; return (seconds, failure messages)."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# sync_cdc
# ---------------------------------------------------------------------------


class SyncCdc(Workload):
    """validate -> keyed diff -> report -> apply/overwrite, and upsert."""

    name = "sync_cdc"
    #: sync_warm is the applying sync again, now warm; it doubles the
    #: round's sync work so that short-term jitter weighs less
    ops = ["sync", "sync_nochange", "upsert", "sync_warm"]

    def prepare(self) -> dict:
        from syncquill_spark.sources.parquet import ParquetTable

        target = gen.sync_target(self.seed, SYNC_ROWS)
        plan = gen.sync_plan(self.seed, SYNC_ROWS)
        alt = shifted(target)
        edit = [-1] * SYNC_ROWS
        for i, c in zip(plan["modified"], plan["edit_col"]):
            edit[i] = c
        gone = set(plan["deleted"])
        alt = alt.append_column("_edit", pa.array(edit, pa.int32()))
        alt = alt.append_column("_del", pa.array([i in gone for i in range(SYNC_ROWS)]))
        self.pristine = gen.write(target, os.path.join(self.dir, "target_pristine", "part-0.parquet"))
        gen.write(alt, os.path.join(self.dir, "alt", "part-0.parquet"))
        self.target_path = os.path.join(self.dir, "target")
        self.upsert_path = os.path.join(self.dir, "upsert_target")
        self.source_path = os.path.join(self.dir, "source")
        self.restore()

        # The sheet side: every cell as the string Spark's cast gives,
        # with the planted edits, deletes and inserts.
        spark = self.spark
        tgt = spark.read.parquet(os.path.dirname(self.pristine))
        alt_df = spark.read.parquet(os.path.join(self.dir, "alt"))
        data_cols = [c for c in tgt.columns if c != "slno"]
        j = tgt.alias("t").join(alt_df.alias("a"), "slno")
        src = j.filter(~F.col("a._del")).select(
            F.col("slno").cast("string").alias("slno"),
            *[
                F.when(F.col("a._edit") == i, F.col(f"a.{c}").cast("string"))
                .otherwise(F.col(f"t.{c}").cast("string"))
                .alias(c)
                for i, c in enumerate(data_cols)
            ],
        )
        ins = alt_df.filter(F.col("slno") <= plan["inserted"]).select(
            (F.col("slno") + SYNC_ROWS).cast("string").alias("slno"),
            *[F.col(c).cast("string").alias(c) for c in data_cols],
        )
        src.unionByName(ins).coalesce(1).write.mode("overwrite").parquet(self.source_path)
        self.source = ParquetTable(self.source_path)
        self.target = ParquetTable(self.target_path)
        self.upsert_target = ParquetTable(self.upsert_path)
        self.want_changes = len(plan["modified"]) + len(plan["deleted"]) + plan["inserted"]
        self.want_digest = checks.digest_frame(self.source.read(spark).toPandas())
        return {
            "target_rows": SYNC_ROWS,
            "source_rows": self.want_digest[0],
            "planted_changes": self.want_changes,
            "columns": len(tgt.columns),
        }

    def restore(self) -> None:
        shutil.rmtree(self.target_path, ignore_errors=True)
        shutil.copytree(os.path.dirname(self.pristine), self.target_path)

    def _digest(self, table) -> tuple[int, str]:
        df = table.read(self.spark)
        return checks.digest_frame(df.select([F.col(c).cast("string") for c in df.columns]).toPandas())

    def run_op(self, op: str, check: bool):
        from syncquill_spark import engine

        spark, fails = self.spark, []
        if op == "upsert":
            t0 = time.perf_counter()
            engine.upsert(spark, self.source, self.upsert_target)
            dt = time.perf_counter() - t0
            if check:
                got = self._digest(self.upsert_target)
                self.hashes["upsert"] = got[1]
                fails += checks.check_equal_digest("upsert target", got, self.want_digest)
            return dt, fails

        applies = op in ("sync", "sync_warm")
        if applies:
            self.restore()
        t0 = time.perf_counter()
        if self.tracer.enabled:
            n = traced_sync(spark, self.tracer, self.source, self.target)
        else:
            n = engine.sync(spark, self.source, self.target).n_changes
        dt = time.perf_counter() - t0
        if applies:
            self.count("diff.changes", n)
            fails += checks.check_change_count(op, n, self.want_changes)
            # the traced round too: its sync is taken apart step by step
            if check or self.tracer.enabled:
                got = self._digest(self.target)
                self.hashes[op] = got[1]
                fails += checks.check_equal_digest("synced target", got, self.want_digest)
        else:
            fails += checks.check_change_count("no-change sync", n, 0)
        return dt, fails


def shifted(t):
    """The same table with every value moved to a different one of the
    same type: the source of the planted edits and inserted rows."""
    import pyarrow.compute as pc

    cols = {}
    for name in t.column_names:
        col = t[name]
        typ = col.type
        if name == "slno":
            cols[name] = col
        elif pa.types.is_integer(typ):
            cols[name] = pc.add(col, pa.scalar(1, typ))
        elif pa.types.is_floating(typ):
            cols[name] = pc.add(col, 1.0)
        elif pa.types.is_timestamp(typ):
            cols[name] = pa.array(
                col.to_numpy().astype("int64") + 86_400_000, typ
            )
        else:
            vals = col.to_pylist()
            domain = sorted(set(vals))
            nxt = {v: domain[(i + 1) % len(domain)] for i, v in enumerate(domain)}
            cols[name] = pa.array([nxt[v] for v in vals])
    return pa.table(cols)


def traced_sync(spark, tracer, source, target) -> int:
    """engine.sync, step by step, one span per layer."""
    from syncquill_spark.engine import REPORT_LIMIT
    from syncquill_spark.operators.apply import apply_changes
    from syncquill_spark.operators.diff import diff_keyed
    from syncquill_spark.operators.report import format_change_report
    from syncquill_spark.operators.validate import validate_sync_frame

    src, tgt = source.read(spark), target.read(spark)
    with tracer.span("validate"):
        validate_sync_frame(src, key="slno")
    with tracer.span("diff"):
        changes = diff_keyed(tgt, src, key="slno").localCheckpoint(eager=True)
        n = changes.count()
    if not n:
        return 0
    with tracer.span("report"):
        rows = _rows_for(src, changes, "extra_row") | _rows_for(tgt, changes, "del_row")
        format_change_report(changes, src.columns, rows_by_key=rows, limit=REPORT_LIMIT)
    with tracer.span("apply"):
        target.overwrite(apply_changes(tgt, changes, source=src, key="slno"))
    return n


def _rows_for(df, changes, change_type: str) -> dict:
    from syncquill_spark.engine import REPORT_LIMIT

    keys = [
        r["slno"]
        for r in changes.filter(F.col("change_type") == change_type)
        .select("slno")
        .limit(REPORT_LIMIT)
        .collect()
    ]
    if not keys:
        return {}
    got = (
        df.filter(F.col("slno").cast("string").isin(keys))
        .select([F.col(c).cast("string").alias(c) for c in df.columns])
        .collect()
    )
    return {r["slno"]: ["" if r[c] is None else r[c] for c in df.columns] for r in got}


# ---------------------------------------------------------------------------
# corpus_ann
# ---------------------------------------------------------------------------


class CorpusAnn(Workload):
    """The LLM-pipeline operators: MinHash dedup, SimHash cluster audit,
    winnowing match pairs; IVF-PQ build + save_index, then load_index +
    top-10 serving."""

    name = "corpus_ann"
    ops = ["dedup", "cluster_audit", "winnow", "ann_build", "ann_query"]

    def prepare(self) -> dict:
        table, self.planted = gen.corpus(self.seed, CORPUS_BASE_DOCS, CORPUS_REPLICAS, CORPUS_CHAINS)
        # the winnow op reads documents.parquet through the registry
        self.docs_path = gen.write(table, os.path.join(self.dir, "documents.parquet"))
        self.docs = self.spark.read.parquet(self.docs_path)
        self.texts = dict(zip(table["doc_id"].to_pylist(), table["text"].to_pylist()))

        emb, self.vecs = gen.embeddings(self.seed, ANN_BASE_VECS, ANN_REPLICAS)
        self.emb_path = gen.write(emb, os.path.join(self.dir, "embeddings.parquet"))
        self.index_path = os.path.join(self.dir, "ivfpq_index")
        self.query_ids = [i for i in range(len(self.vecs)) if i % QUERY_MOD == 0]
        self.exact = checks.exact_topk(self.vecs, self.query_ids, TOPK["k"])
        return {
            "documents": table.num_rows,
            "base_docs": CORPUS_BASE_DOCS,
            "replicas": CORPUS_REPLICAS,
            "planted_chains": len(self.planted),
            "planted_docs": sum(len(c) for c in self.planted),
            "vectors": len(self.vecs),
            "queries": len(self.query_ids),
            "dim": gen.DIM,
        }

    def run_op(self, op: str, check: bool):
        return getattr(self, f"_{op}")(check)

    def _dedup(self, check: bool):
        from syncquill_spark.functions.hashing import minhash_from_hashes, shingle_hashes, word_shingles
        from syncquill_spark.operators.clusters import apply_dedup
        from syncquill_spark.operators.dedup import minhash_lsh_pairs

        tr, docs = self.tracer, self.docs
        t0 = time.perf_counter()
        with tr.span("hashing.minhash"):
            # the first planted documents only: the column form is
            # interpreted per element, ~6 s per thousand documents here
            first = CORPUS_REPLICAS * gen.ID_OFFSET
            noop(
                docs.filter(F.col("doc_id").between(first, first + HASHED_DOCS - 1)).select(
                    "doc_id",
                    minhash_from_hashes(
                        shingle_hashes(word_shingles("text", MINHASH["k"])), MINHASH["n_perm"]
                    ).alias("sig"),
                )
            )
        with tr.span("dedup.minhash"):
            pairs, n_pairs = materialize(minhash_lsh_pairs(docs, **MINHASH))
        with tr.span("clusters.apply_dedup"):
            kept, n_kept = materialize(apply_dedup(docs, pairs))
        dt = time.perf_counter() - t0
        self.count("dedup.minhash.pairs", n_pairs)
        self.count("clusters.apply_dedup.kept", n_kept)
        fails = []
        if check:
            prs = [(r.id_a, r.id_b, r.jac) for r in pairs.select("id_a", "id_b", "jac").collect()]
            kept_ids = [r.doc_id for r in kept.select("doc_id").collect()]
            self.hashes["dedup"] = checks.digest_rows((i,) for i in kept_ids)[1]
            fails += checks.check_minhash_pairs(prs, self.texts, MINHASH["threshold"], MINHASH["k"])
            fails += checks.check_kept(kept_ids, list(self.texts), [p[:2] for p in prs], self.planted)
        return dt, fails

    def _cluster_audit(self, check: bool):
        from syncquill_spark.operators.clusters import connected_components
        from syncquill_spark.operators.dedup import simhash_fingerprints, simhash_near_pairs

        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("dedup.simhash"):
            pairs, n_pairs = materialize(simhash_near_pairs(self.docs, **SIMHASH))
        with tr.span("clusters.cc"):
            cc, n_nodes = materialize(connected_components(pairs))
            sizes = cc.groupBy("comp").agg(F.count(F.lit(1)).alias("size"))
            hist = {r["size"]: r["n"] for r in sizes.groupBy("size").agg(F.count(F.lit(1)).alias("n")).collect()}
        dt = time.perf_counter() - t0
        self.count("dedup.simhash.pairs", n_pairs)
        self.count("clusters.cc.nodes", n_nodes)
        self.count("clusters.cc.components", sum(hist.values()))
        fails = []
        if check:
            prs = [tuple(r) for r in pairs.select("id_a", "id_b", pairs.columns[2]).collect()]
            labels = {r.node: r.comp for r in cc.select("node", "comp").collect()}
            self.hashes["cluster_audit"] = checks.digest_rows(labels.items())[1]
            fps = simhash_fingerprints(self.docs, bits=SIMHASH["bits"]).collect()
            fails += checks.check_simhash_pairs(prs, {r[0]: r[1] for r in fps}, SIMHASH["max_hamming"])
            fails += checks.check_components(labels, [p[:2] for p in prs])
            fails += checks.check_histogram(hist, labels)
        return dt, fails

    def _winnow(self, check: bool):
        from syncquill_spark.plans import ORACLES, QUERIES

        t0 = time.perf_counter()
        with self.tracer.span("text.winnow"):
            pairs, n_pairs = materialize(QUERIES[WINNOW_QUERY](self.spark, self.dir))
        dt = time.perf_counter() - t0
        self.count("text.winnow.pairs", n_pairs)
        fails = []
        if check:
            got = checks.digest_frame(pairs.toPandas())
            self.hashes["winnow"] = got[1]
            want = checks.digest_frame(duck(self.dir, {"documents": self.docs_path}).execute(ORACLES[WINNOW_QUERY]).df())
            fails += checks.check_equal_digest("winnowing pairs vs oracle", got, want)
        return dt, fails

    def _ann_build(self, check: bool):
        from syncquill_spark.operators.similarity import ivfpq_build_index
        from syncquill_spark.sources.index_store import save_index

        tr, emb = self.tracer, self.spark.read.parquet(self.emb_path)
        t0 = time.perf_counter()
        with tr.span("similarity.build"):
            index = ivfpq_build_index(emb, **IVFPQ)
        with tr.span("index_store.save"):
            save_index(self.index_path, _partition_by={"codes": ["cell_id"]}, **index)
        return time.perf_counter() - t0, []

    def _ann_query(self, check: bool):
        from syncquill_spark.operators.similarity import ivfpq_topk_from_index
        from syncquill_spark.sources.index_store import load_index

        tr, spark = self.tracer, self.spark
        queries = (
            spark.read.parquet(self.emb_path)
            .filter(F.col("vec_id") % QUERY_MOD == 0)
            .select(F.col("vec_id").alias("query_id"), "embedding")
        )
        t0 = time.perf_counter()
        with tr.span("similarity.query"):
            loaded = load_index(spark, self.index_path)
            rows = ivfpq_topk_from_index(queries, loaded, **TOPK).toPandas()
        dt = time.perf_counter() - t0
        self.count("similarity.query.rows", len(rows))
        result: dict[int, list[int]] = {}
        for q, n, _ in sorted(rows[["query_id", "neighbor_id", "rk"]].itertuples(index=False), key=lambda r: (r[0], r[2])):
            result.setdefault(int(q), []).append(int(n))
        self.quality["ann_recall_at_10"] = checks.recall_at_k(result, self.exact)
        fails = checks.check_topk_shape(result, self.query_ids, len(self.vecs), TOPK["k"])
        if check:
            from syncquill_spark.plans import ORACLES

            got = checks.digest_frame(rows)
            self.hashes["ann_query"] = got[1]
            want = checks.digest_frame(duck(self.dir, {"embeddings": self.emb_path}).execute(ORACLES["storage_ivfpq_index"]).df())
            fails += checks.check_equal_digest("ivfpq top-k vs oracle", got, want)
        return dt, fails


def duck(work_dir: str, views: dict[str, str]):
    import duckdb

    con = duckdb.connect(config={"threads": len(os.sched_getaffinity(0)), "temp_directory": os.path.join(work_dir, "duck_tmp")})
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


WORKLOADS = {w.name: w for w in (SyncCdc, CorpusAnn)}

"""The benchmark's own tests: generators, checks, metric names, and the
event-log reader. No Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
NAME = re.compile(r"[A-Za-z0-9._-]+")


def _table_bytes(t: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, t.schema) as w:
        w.write_table(t)
    return sink.getvalue().to_pybytes()


# --- generators --------------------------------------------------------------


@pytest.mark.parametrize(
    "make",
    [
        lambda s: gen.sync_target(s, 2_000),
        lambda s: gen.corpus(s, 50, 3, 5)[0],
        lambda s: gen.embeddings(s, 50, 4)[0],
    ],
    ids=["sync_target", "corpus", "embeddings"],
)
def test_generators_deterministic_per_seed_and_differ_across_seeds(make):
    assert _table_bytes(make(7)) == _table_bytes(make(7))
    assert _table_bytes(make(7)) != _table_bytes(make(8))


def test_sync_plan_deterministic_and_seeded():
    assert gen.sync_plan(3, 10_000) == gen.sync_plan(3, 10_000)
    assert gen.sync_plan(3, 10_000) != gen.sync_plan(4, 10_000)
    plan = gen.sync_plan(3, 10_000)
    assert not set(plan["modified"]) & set(plan["deleted"])
    assert len(plan["modified"]) == 100 and len(plan["deleted"]) == 50 and plan["inserted"] == 50


def test_sync_key_is_unique():
    t = gen.sync_target(5, 5_000)
    slno = t["slno"].to_pylist()
    assert len(set(slno)) == len(slno)


def test_planted_chains_are_near_duplicates():
    t, planted = gen.corpus(11, 40, 2, 6)
    texts = dict(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))
    assert all(2 <= len(c) <= 6 for c in planted)
    for chain in planted:
        for a, b in zip(chain, chain[1:]):
            sa, sb = checks.shingles(texts[a]), checks.shingles(texts[b])
            assert len(sa & sb) / len(sa | sb) > 0.8


# --- checks fail on corrupted outputs ------------------------------------------


def test_sync_check_fails_on_dropped_row():
    src = pd.DataFrame({"slno": ["1", "2", "3"], "v": ["a", "b", "c"]})
    want = checks.digest_frame(src)
    assert checks.check_equal_digest("synced", checks.digest_frame(src), want) == []
    assert checks.check_equal_digest("synced", checks.digest_frame(src.iloc[:2]), want)


def test_digest_is_order_insensitive():
    df = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    assert checks.digest_frame(df) == checks.digest_frame(df.iloc[::-1][["b", "a"]])


def test_cluster_check_fails_on_merged_planted_clusters():
    pairs = [(1, 2), (2, 3), (10, 11)]
    good = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert checks.check_components(good, pairs) == []
    merged = good | {10: 1, 11: 1}
    assert checks.check_components(merged, pairs)
    assert checks.check_histogram({3: 1, 2: 1}, good) == []
    assert checks.check_histogram({5: 1}, good)


def test_kept_check_fails_when_a_chain_keeps_two_docs():
    pairs = [(1, 2), (2, 3)]
    assert checks.check_kept([1, 4], [1, 2, 3, 4], pairs, [[1, 2, 3]]) == []
    assert checks.check_kept([1, 3, 4], [1, 2, 3, 4], pairs, [[1, 2, 3]])


def test_minhash_pair_check_fails_on_false_pair():
    texts = {1: "a b c d e f", 2: "a b c d e g", 3: "x y z w v u"}
    j = 3 / 5
    assert checks.check_minhash_pairs([(1, 2, j)], texts, 0.2) == []
    assert checks.check_minhash_pairs([(1, 3, 0.5)], texts, 0.2)


def test_simhash_pair_check_fails_on_wrong_dropped_or_extra_pair():
    fps = {1: 0b1111, 2: 0b1110, 3: 0b0111, 4: -1, 5: -(2**63)}  # 4 and 5 differ in 63 bits
    good = [(1, 2, 1), (1, 3, 1), (2, 3, 2)]
    assert checks.near_pairs(fps, 3) == {(a, b): h for a, b, h in good}
    assert checks.check_simhash_pairs(good, fps, 3) == []
    assert checks.check_simhash_pairs(good[:2], fps, 3)  # dropped
    assert checks.check_simhash_pairs([(1, 2, 2), *good[1:]], fps, 3)  # wrong distance
    assert checks.check_simhash_pairs([*good, (1, 4, 3)], fps, 3)  # not within bound
    assert checks.check_simhash_pairs([*good, (1, 2, 1)], fps, 3)  # duplicated


def test_ann_check_fails_on_wrong_neighbour_id():
    rng = np.random.default_rng(0)
    vecs = gen.unit_vectors(rng, 300)
    qids = [0, 100, 200]
    exact = checks.exact_topk(vecs, qids, 10)
    assert all(exact[q][0] == q for q in qids)  # a vector is its own nearest
    assert checks.check_topk_shape(exact, qids, 300, 10) == []
    assert checks.recall_at_k(exact, exact) == 1.0
    oracle = pd.DataFrame(
        [(q, n, r + 1) for q in qids for r, n in enumerate(exact[q])],
        columns=["query_id", "neighbor_id", "rk"],
    )
    wrong = oracle.copy()
    wrong.loc[3, "neighbor_id"] = 299 if 299 not in exact[0] else 298
    assert checks.check_equal_digest("ann vs oracle", checks.digest_frame(wrong), checks.digest_frame(oracle))
    bad = exact | {0: exact[0][:9] + [10_000]}
    assert checks.check_topk_shape(bad, qids, 300, 10)


def test_oracle_hash_mismatch_fails():
    spark_out = pd.DataFrame({"k": [1, 2], "n": [10, 20]})
    oracle = pd.DataFrame({"k": [1, 2], "n": [10, 21]})
    assert checks.check_equal_digest("q vs oracle", checks.digest_frame(spark_out), checks.digest_frame(oracle))


# --- metric names ----------------------------------------------------------------


def test_metric_names_and_counts():
    import run

    with open(BENCHMARK_JSON) as fh:
        bench = json.load(fh)
    e2e = [m["name"] for m in bench["end_to_end"]]
    layer = [m["name"] for m in bench["per_layer"]]
    assert len(e2e) <= 16 and len(layer) <= 128
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in e2e + layer)
    assert len(set(e2e + layer)) == len(e2e) + len(layer)
    assert set(e2e) == set(run.END_TO_END)
    import workloads

    assert list(run.per_layer_names()) == layer
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


# --- event log -----------------------------------------------------------------------


def test_eventlog_parser_reads_recorded_log():
    log = os.path.join(HERE, "data", "eventlog_small")
    files = eventlog.log_files(log)
    assert files and all(os.path.basename(f).startswith("events_") for f in files)
    stats = eventlog.job_group_stats(eventlog.read_events(log))
    g = stats["bench.0"]
    assert g.jobs >= 1 and g.tasks >= 1
    assert g.cpu_s > 0 and g.shuffle_mb > 0
    assert g.skew >= 1.0
    assert stats["bench.1"].jobs >= 1


def test_eventlog_refuses_compressed(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app.zstd").write_bytes(b"\x28\xb5\x2f\xfd")
    with pytest.raises(ValueError):
        eventlog.log_files(str(d))


def test_eventlog_skips_torn_last_line(tmp_path):
    f = tmp_path / "app"
    f.write_text(
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
                    "Properties": {"spark.jobGroup.id": "g"}}) + "\n" + '{"Event": "Spark'
    )
    assert eventlog.job_group_stats(eventlog.read_events(str(f)))["g"].jobs == 1


def test_eventlog_joins_ungrouped_jobs_by_submission_time():
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1500, "Stage IDs": [0], "Properties": {}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 9000, "Stage IDs": [1], "Properties": {}},
    ]
    stats = eventlog.job_group_stats(ev, [("outer", 1000, 5000), ("inner", 1400, 2000)])
    assert stats["inner"].jobs == 1 and stats[""].jobs == 1 and "outer" not in stats

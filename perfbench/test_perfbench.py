"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The Spark test starts a local session; the others need none.
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402
from perfbench.accounting import Span, parse_metric_seconds, self_times, union_length  # noqa: E402
from perfbench.common import percentile_tail  # noqa: E402


def _corpus_inputs(seed):
    c = gen.Corpus(seed, base_docs=50, epoch_docs=40)
    base = c.base()
    epochs = [c.epoch(e) for e in range(2)]
    return base, epochs


def test_same_seed_same_inputs_and_seeds_differ(tmp_path):
    base1, ep1 = _corpus_inputs(7)
    base2, ep2 = _corpus_inputs(7)
    assert base1.equals(base2)
    for (t1, c1), (t2, c2) in zip(ep1, ep2):
        assert t1.equals(t2) and c1 == c2
    base3, ep3 = _corpus_inputs(8)
    assert not base1.equals(base3)
    assert not ep1[0][0].equals(ep3[0][0])

    names = [f"q{i}" for i in range(10)]
    assert gen.query_order(names, 1) == gen.query_order(names, 1)
    assert gen.query_order(names, 1) != gen.query_order(names, 2)
    assert sorted(gen.query_order(names, 3)) == names

    # the query tables come from a fixed seed: identical on every call
    a, b = tmp_path / "a", tmp_path / "b"
    gen.query_tables(str(a), 6_000)
    gen.query_tables(str(b), 6_000)
    for t in ("lineitem", "documents", "embeddings"):
        assert pq.read_table(a / f"{t}.parquet").equals(pq.read_table(b / f"{t}.parquet"))


def test_planted_classes_and_shares():
    c = gen.Corpus(3, base_docs=100, epoch_docs=200)
    base = c.base().to_pydict()
    table, cls = c.epoch(0)
    rows = table.to_pydict()
    assert sorted(rows["doc_id"]) == sorted(cls)
    counts = {k: sum(1 for v in cls.values() if v == k) for k in gen.CLASSES}
    assert counts == {"unique": 110, "corpus_exact": 30, "corpus_near": 20,
                      "corpus_border": 20, "batch_exact": 20}
    text = dict(zip(rows["doc_id"], rows["text"]))
    base_toks = [t.split() for t in base["text"]]
    uniques = {i for i, k in cls.items() if k == "unique"}
    for i, k in cls.items():
        toks = text[i].split()
        # fewest tokens that differ from any base doc
        diff = min(sum(a != b for a, b in zip(toks, bt)) for bt in base_toks)
        if k == "corpus_exact":
            assert diff == 0
        elif k in gen.REPLACED:
            assert diff == gen.REPLACED[k]
        elif k == "batch_exact":
            # its original is a kept unique with a smaller id
            assert any(text[u] == text[i] and u < i for u in uniques)
        elif k == "unique":
            assert diff > 30
    assert len({text[u] for u in uniques}) == len(uniques)


def test_self_time_arithmetic_on_synthetic_tree():
    # root [0, 10]: children a [1, 4] and b [3, 6] overlap -> cover 5 s;
    # a has child c [2, 3]; a second "root" span [12, 13] adds 1 s
    spans = [
        Span(0, "root", 0.0, 10.0),
        Span(1, "a", 1.0, 4.0, parent=0),
        Span(2, "b", 3.0, 6.0, parent=0),
        Span(3, "c", 2.0, 3.0, parent=1),
        Span(4, "root", 12.0, 13.0),
    ]
    st = self_times(spans)
    assert st == pytest.approx({"root": 5.0 + 1.0, "a": 2.0, "b": 3.0, "c": 1.0})
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_length([]) == 0.0


def test_metric_text_parsing_and_percentiles():
    assert parse_metric_seconds("total (min, med, max (stageId: taskId))\n5.0 s (2.5 s, 2.5 s, 2.5 s (stage 2.0: task 4))") == 5.0
    assert parse_metric_seconds("total (min, med, max)\n531 ms (1 ms, 2 ms, 3 ms)") == pytest.approx(0.531)
    assert parse_metric_seconds("1.5 min") == 90.0
    assert percentile_tail([3.0, 1.0, 2.0]) == (2.0, 3.0, 3)
    v = list(range(1, 31))  # 30 samples: ten beyond the 20th value
    assert percentile_tail([float(x) for x in v]) == (15.5, 20.0, 30)


def test_query_selection_one_per_stratum():
    from perfbench import profile_queries as P

    # ten queries, warm times 10..1 s; query k reaches module "m<k mod 3>"
    prof = {"queries": {
        f"q{k}": {"warm_s": float(10 - k), "cold_s": float(20 - k),
                  "python_boundary": k == 3, "operators": [f"m{k % 3}"]}
        for k in range(10)
    }}
    prof["queries"]["dedup_exact"] = prof["queries"].pop("q9")  # the control
    sel = P.select(prof)
    assert len(sel["queries"]) == P.STRATA
    for stratum, kept in zip(sel["strata"], sel["queries"]):
        assert kept in stratum
    assert "dedup_exact" not in sel["queries"]
    assert sel == P.select(prof)
    assert 0 < sel["warm_share"] < 1


def test_saved_profile_selects_the_frozen_queries():
    import json

    from perfbench import profile_queries as P
    from perfbench import queries

    with open(P.PROFILE) as f:
        prof = json.load(f)
    assert sorted(prof["queries"]) == sorted(P.HEADLINE)
    assert tuple(P.select(prof)["queries"]) == queries.QUERIES


@pytest.fixture(scope="module")
def spark():
    from b3_analytics_engine_spark.session import get_spark

    return get_spark(app_name="perfbench-tests")


def test_accounting_repeats_exactly_for_a_known_query(spark, tmp_path):
    """Two runs of one query at sf0.01 scale give identical job, stage
    and scan-row counts from the status store."""
    from b3_analytics_engine_spark.queries import registry

    from perfbench.accounting import SparkAccounting

    tables = str(tmp_path / "t")
    gen.query_tables(tables, 60_000)
    acct = SparkAccounting(spark)
    fn = registry()["regional_revenue"].fn
    seen = []
    for i in range(2):
        g = f"perfbench-test-{i}"
        spark.sparkContext.setJobGroup(g, g, False)
        try:
            fn(spark, tables).write.format("noop").mode("overwrite").save()
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        t = acct.totals(g)
        seen.append((t["jobs"], t["stages"], t["scan_rows"]))
        spark.catalog.clearCache()
    assert seen[0] == seen[1]
    assert seen[0][0] > 0 and seen[0][2] > 0

"""Workload ``corpus_ingest``: ingest epochs against a persisted
``SignatureStore``.

Set-up writes a seeded base corpus and builds its fingerprints,
MinHash signatures and IVF index. The measured phase runs the engine's
``start_corpus_ingest`` stream over a file source, one seeded batch
file per epoch, closed loop: the next file is written when the
previous epoch has committed. A run measures ``EPOCHS`` epochs, the
first of them cold: a warm epoch would add 15-20 s to a run, which the
run budget does not have (README.md). The work is fixed: it does not
depend on ``seconds``. Each epoch runs
exact -> MinHash -> publish -> IVF append -> maintenance;
``compact_every=1`` and the retrain gate put maintenance inside every
measured epoch. The semantic tier is off: it
added about 10 s to a 45 s epoch, more than the run budget allows
(README.md).
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

from . import gen
from .accounting import self_times
from .common import Run, median, percentile_tail, progress_end_s

CORPUS = "c"
N_CENTROIDS, ITERS = 4, 2
THRESHOLD = 0.5
RETRAIN_BALANCE = 1.5
BASE_DOCS, EPOCH_DOCS = 400, 200
EPOCHS = 1
# share of the planted ``corpus_border`` copies that must be dropped:
# the banding misses about 0.5 % of those pairs by design (gen.REPLACED)
BORDER_RECALL_FLOOR = 0.9


def setup(run: Run) -> dict:
    """Seeded base corpus (generated three times, median kept) and the
    store built over it: fingerprints, MinHash signatures, IVF index."""
    from b3_analytics_engine_spark.signature_store import SignatureStore

    base_path = os.path.join(run.work, "base.parquet")
    gen_s = []
    for _ in range(3):
        t = time.perf_counter()
        corpus = gen.Corpus(run.seed, BASE_DOCS, EPOCH_DOCS)
        pq.write_table(corpus.base(), base_path)
        gen_s.append(time.perf_counter() - t)
    spark = run.spark
    store = SignatureStore(spark, os.path.join(run.work, "store"), owner="perfbench")
    t = time.perf_counter()
    with run.op("setup.store_build"):
        base = spark.read.parquet(base_path)
        store.fingerprints(base.select("doc_id", "text"), CORPUS)
        store.signatures(base.select("doc_id", "text"), CORPUS)
        store.ivf_index(
            base.select("doc_id", "embedding"), CORPUS,
            id_col="doc_id", vec_col="embedding",
            n_centroids=N_CENTROIDS, iters=ITERS,
        )
    build_s = time.perf_counter() - t
    run.details.update({"setup.generate_s": sorted(gen_s)[1], "setup.store_build_s": build_s})
    return {"corpus": corpus, "store": store, "setup_s": sorted(gen_s)[1] + build_s}


def measure(run: Run, state: dict) -> None:
    from b3_analytics_engine_spark.sources.files import stream_parquet_dir
    from b3_analytics_engine_spark.streaming.pipeline import start_corpus_ingest
    from pyspark.sql.pandas.types import from_arrow_schema

    spark, corpus, store = run.spark, state["corpus"], state["store"]
    src = os.path.join(run.work, "src")
    staging = os.path.join(run.work, "staging")
    os.makedirs(src)
    os.makedirs(staging)
    lake = os.path.join(run.work, "lake")
    started = time.time()
    stream = stream_parquet_dir(
        spark, src, from_arrow_schema(gen.CORPUS_SCHEMA), max_files_per_trigger=1
    )
    q = start_corpus_ingest(
        stream, store, CORPUS, lake, os.path.join(run.work, "ckpt"),
        threshold=THRESHOLD,
        n_centroids=N_CENTROIDS, iters=ITERS,
        trigger={"processingTime": "100 milliseconds"},
        compact_every=1, retrain_balance=RETRAIN_BALANCE,
    )
    planted: dict[int, str] = {}
    epochs = []
    try:
        for e in range(EPOCHS):
            table, cls = corpus.epoch(e)
            planted.update(cls)
            gen.write_atomic(table, staging, os.path.join(src, f"epoch-{e:04d}.parquet"))
            p = run.await_batch(q, e, timeout_s=150)
            epochs.append(
                {
                    "docs": table.num_rows,
                    "end": progress_end_s(p),
                    "durations_ms": dict(p.durationMs),
                }
            )
    finally:
        q.stop()
    state.update(planted=planted, epochs=epochs, lake=lake, run_id=str(q.runId))

    lat = [ep["durations_ms"]["triggerExecution"] / 1e3 for ep in epochs]
    docs = sum(ep["docs"] for ep in epochs)
    run.attempted += docs
    p50 = percentile_tail(lat)[0]
    # first result: stream start to the first epoch's commit
    cold = epochs[0]["end"] - started
    run.end_to_end.update(work_per_s=docs / sum(lat), cold_s=cold)
    run.named.update(
        ingest_epoch_p50_s=(p50, len(lat)),
        ingest_docs_per_s=(docs / sum(lat), docs),
        ingest_first_commit_s=(cold, 1),
    )


def layer_totals(run: Run, state: dict, n_spans: int) -> dict:
    """``spark.*`` per epoch, progress durations and per-epoch self
    times of the traced engine calls."""
    epochs = state["epochs"]
    per = len(epochs)
    wall = sum(ep["durations_ms"]["triggerExecution"] for ep in epochs) / 1e3
    groups = [state["run_id"]] + run.span_groups(n_spans)
    out = run.spark_totals(groups, wall, per)

    def dur(k):
        return median([ep["durations_ms"].get(k, 0) / 1e3 for ep in epochs])

    selfs = self_times(run.tracer.spans[n_spans:])
    run.details.update(
        {
            "streaming.jobs_per_epoch": out["spark.jobs"],
            "streaming.addBatch_s": dur("addBatch"),
            "streaming.planning_s": dur("queryPlanning"),
            "streaming.walCommit_s": dur("walCommit"),
            "sources.files.latestOffset_s": dur("latestOffset"),
            **{f"ingest.{k[6:]}": v for k, v in out.items()
               if k not in ("spark.jobs", "spark.stages")},
            "ingest.jobs_per_epoch": out["spark.jobs"],
            "ingest.stages_per_epoch": out["spark.stages"],
            **{f"{name}_s": v / per for name, v in selfs.items()},
        }
    )
    return out


def check(run: Run, state: dict) -> list[str]:
    """The lake and the IVF index hold the same documents; every planted
    copy and duplicate is dropped, except that of the ``corpus_border``
    copies a share of ``BORDER_RECALL_FLOOR`` suffices; every planted
    unique document is in both; both fscks pass."""
    spark, store, planted = run.spark, state["store"], state["planted"]
    errors = []
    lake_ids = {r[0] for r in spark.read.parquet(state["lake"]).select("doc_id").collect()}
    idx_ids = {
        r[0]
        for r in store.ivf_index(None, CORPUS, n_centroids=N_CENTROIDS, iters=ITERS)
        .select("id").collect()
        if r[0] >= 1_000_000
    }
    uniques = {i for i, c in planted.items() if c == "unique"}
    border = {i for i, c in planted.items() if c == "corpus_border"}
    dups = set(planted) - uniques - border
    if lake_ids != idx_ids:
        errors.append(
            f"lake and ivf index disagree: only in lake {sorted(lake_ids - idx_ids)[:5]}, "
            f"only in index {sorted(idx_ids - lake_ids)[:5]}"
        )
    for surface, ids in (("lake", lake_ids), ("ivf index", idx_ids)):
        missing, kept = sorted(uniques - ids), sorted(ids & dups)
        if missing or kept:
            errors.append(
                f"{surface}: uniques missing {missing[:5]}, duplicates kept "
                f"{[(i, planted[i]) for i in kept[:5]]}"
            )
    recall = 1 - len(border & lake_ids) / len(border)
    if recall < BORDER_RECALL_FLOOR:
        errors.append(f"corpus_border recall {recall:.3f} < {BORDER_RECALL_FLOOR}")
    run.details["ingest.border_recall"] = recall
    t = time.perf_counter()
    if not store.validate(CORPUS)["ok"]:
        errors.append("store.validate not ok")
    t1 = time.perf_counter()
    if not store.validate_ivf(CORPUS, n_centroids=N_CENTROIDS, iters=ITERS)["ok"]:
        errors.append("store.validate_ivf not ok")
    run.details.update({"check.validate_s": t1 - t, "check.validate_ivf_s": time.perf_counter() - t1})
    kept_share = len(lake_ids) / max(1, len(planted))
    shares = {c: sum(1 for v in planted.values() if v == c) / len(planted) for c in gen.CLASSES}
    run.details.update({"ingest.kept_share": kept_share, "planted_shares": shares})
    if run.trace:
        files = nbytes = 0
        for d, _, fs in os.walk(store.root):
            for f in fs:
                files += 1
                nbytes += os.path.getsize(os.path.join(d, f))
        run.details.update({"signature_store.files": files, "signature_store.bytes": nbytes})
    return errors


def trace_targets() -> list:
    """(owner, attribute, span name) triples the traced run wraps."""
    from b3_analytics_engine_spark import pipelines as P
    from b3_analytics_engine_spark import signature_store as S
    from b3_analytics_engine_spark.streaming import pipeline as SP

    return [
        (SP, "corpus_ingest_micro_batch", "ingest.publish"),
        (P, "incremental_dedup", "pipelines.incremental_dedup"),
        (S.SignatureStore, "append_batch", "signature_store.append_batch"),
        (S.SignatureStore, "ivf_append", "signature_store.ivf_append"),
        (S.SignatureStore, "compact", "signature_store.compact"),
        (S.SignatureStore, "ivf_compact", "signature_store.ivf_compact"),
        (S.SignatureStore, "ivf_maybe_retrain", "signature_store.ivf_maybe_retrain"),
        # the store calls sinks.files.replace_directory through its own
        # module-level import
        (S, "replace_directory", "sinks.files.replace_directory"),
    ]

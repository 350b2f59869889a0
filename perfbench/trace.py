"""Traced run: the per-layer table.

The traced pass calls each module's public functions in pipeline order
and materializes every layer's output under a Spark job group named
after the layer, recording a span (name, start, end, parent, run id)
around each call. Spans stay in memory and are written, with the
per-layer table, to ``.perfbench/trace/<workload>-s<seed>.json`` when
the run ends. Task time and shuffle bytes per layer come from a Spark event log
that only this run turns on.

Row counts are taken after the spans, under the job group ``aux``, so
they cost no layer any time. Timings from here are not end-to-end
figures: every layer boundary is a materialization the untraced
pipeline does not make, and ``trace.overhead_s`` reports that cost.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import Observation, functions as F

from kg import io, model, nlp, pipeline, spec
from kg.stages import canon, checkpoint, corpus, link, score, triples

from perfbench import gen, run, workloads

#: per-layer metric → unit; trace runs report every one of them, 0 for
#: a layer the workload does not run
UNITS = {
    "session.start_s": "s", "score.broadcast_s": "s",
    "session.worker_warm_s": "s",
    "io.scan_s": "s", "io.scan_bytes": "bytes",
    "io.write_s": "s", "io.write_bytes": "bytes",
    "score.fused_s": "s", "score.fused_task_s": "s",
    "score.busy_ratio": "ratio", "score.fused_rows_out": "rows",
    "spec.tokenize_us": "us", "nlp.find_mentions_us": "us",
    "nlp.pair_instances_us": "us", "model.predict_us": "us",
    "score.instances_per_turn": "ratio", "score.keep_ratio": "ratio",
    "score.xturn_s": "s", "score.xturn_task_s": "s",
    "score.xturn_shuffle_bytes": "bytes", "score.xturn_rows_out": "rows",
    "pipeline.resolve_s": "s", "pipeline.miss_norms": "count",
    "canon.features_s": "s", "canon.minhash_s": "s", "canon.bands_s": "s",
    "canon.candidates_s": "s", "canon.verify_s": "s", "canon.cc_s": "s",
    "canon.candidates": "count", "canon.edges": "count",
    "canon.verify_ratio": "ratio", "canon.dropped_buckets": "count",
    "canon.dropped_nodes": "count", "canon.components": "count",
    "canon.cc_driver": "flag",
    "triples.dedup_s": "s", "triples.occurrences": "rows",
    "triples.triples_out": "rows", "triples.shuffle_bytes": "bytes",
    "triples.adjacency_s": "s",
    "checkpoint.commit_s": "s", "checkpoint.batches": "count",
    "checkpoint.bytes_written": "bytes", "checkpoint.rows_committed": "rows",
    "corpus.pipeline_s": "s", "corpus.exact_survivors": "rows",
    "corpus.survivors": "rows",
    "trace.overhead_s": "s",
}

#: the scorer output columns ``pipeline.run`` keeps
NARROW = ["conv_id", "turn_idx", "head_norm", "tail_norm", "rel", "score",
          "head_entity", "tail_entity"]
#: turns timed by the single-process scorer micro-measurements
MICRO_TURNS = 2000
#: untraced iterations before the traced pass; the last one is the
#: reference the tracing overhead is taken against
UNTRACED = 2


class Tracer:
    """In-memory spans; each span runs its Spark jobs under a job
    group named after it."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self.sc.setJobGroup("aux", "aux")

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(parent or "aux", parent or "aux")
            self.spans.append({"name": name, "start": t0, "end": t1,
                               "parent": parent, "run": self.run_id})

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)


def event_log_groups(log_dir: str) -> dict[str, dict]:
    """Per job group: summed executor run time (s) and shuffle bytes
    written, from a finished event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if not p.endswith(".inprogress")]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", "aux")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    g = out.setdefault(
                        stage_group.get(ev["Stage ID"], "aux"),
                        {"task_s": 0.0, "shuffle_bytes": 0})
                    g["task_s"] += tm.get("Executor Run Time", 0) / 1000
                    g["shuffle_bytes"] += (tm.get("Shuffle Write Metrics")
                                           or {}).get(
                                               "Shuffle Bytes Written", 0)
    return out


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def canon_breakdown(tr: Tracer, norms, feature: str, tau: float) -> dict:
    """C1–C3 one public call at a time over a ``norm`` column, with the
    thresholds the pipeline uses for this feature mode."""
    with tr.span("canon.features"):
        feats = canon.node_features(norms, feature=feature).localCheckpoint()
    with tr.span("canon.minhash"):
        sigs = canon.minhash_signatures(feats).localCheckpoint()
    with tr.span("canon.bands"):
        banded = canon.lsh_bands(sigs).localCheckpoint()
    obs = Observation(f"perfbench_drops_{tr.run_id}")
    with tr.span("canon.candidates"):
        cands = canon.candidate_pairs(banded, obs=obs).localCheckpoint()
    with tr.span("canon.verify"):
        edges = canon.verify_pairs(cands, feats, tau=tau).localCheckpoint()
    with tr.span("canon.cc"):
        comps = canon.components_auto(feats.select("node"),
                                      edges).localCheckpoint()
    n_nodes, n_cands, n_edges = feats.count(), cands.count(), edges.count()
    # an empty final result leaves the observation unset (canon.py)
    drops = obs.get if n_cands else {}
    return {
        "canon.candidates": n_cands, "canon.edges": n_edges,
        "canon.verify_ratio": n_edges / n_cands if n_cands else 0.0,
        "canon.dropped_buckets": drops.get("dropped_buckets") or 0,
        "canon.dropped_nodes": drops.get("dropped_nodes") or 0,
        "canon.components": comps.select("component").distinct().count(),
        "canon.cc_driver": int(n_nodes <= canon.DRIVER_CANON_MAX_NODES
                               and n_edges <= canon.DRIVER_CANON_MAX_EDGES),
        **{f"canon.{k}_s": tr.seconds(f"canon.{k}") for k in (
            "features", "minhash", "bands", "candidates", "verify", "cc")},
    }


def trace_kg(spark, bc, w, in_path: str, tr: Tracer, out_dir: str,
             ckpt_root: str) -> tuple[dict, float]:
    """Traced pass over ``pipeline.run``'s layers; returns (metrics,
    traced wall seconds)."""
    m: dict = {}
    t_pass = time.perf_counter()
    with tr.span("io.scan"):
        t0 = io.read_table(spark, in_path).localCheckpoint()
    with tr.span("score.fused"):
        fused = score.extract_and_score_fused(t0, bc).select(
            NARROW).localCheckpoint()
    scored = fused
    if w.cross_turn_k:
        with tr.span("score.xturn"):
            xturn = score.extract_and_score_cross_turn_fused(
                t0, bc, k=w.cross_turn_k).select(NARROW).localCheckpoint()
        scored = fused.unionByName(xturn)
    if w.checkpointed:
        with tr.span("checkpoint.commit"):
            scored = checkpoint.run_checkpointed(
                spark, ckpt_root, "scored", "perfbench", scored,
                lambda df: df, bucket_key="conv_id",
                n_buckets=workloads.N_BUCKETS)
    dict_df = link.dictionary_df(spark)
    with tr.span("pipeline.resolve"):
        resolved = pipeline.resolve_entities(scored, dict_df).localCheckpoint()
    with tr.span("triples.dedup"):
        raw = triples.emit_triples(resolved)
        t8 = triples.dedup_aggregate(raw).localCheckpoint()
    with tr.span("triples.adjacency"):
        t9 = triples.build_adjacency(t8).localCheckpoint()
    with tr.span("io.write"):
        io.write_table(t8, os.path.join(out_dir, "triples"))
        io.write_table(t9.repartitionByRange(
            max(spark.sparkContext.defaultParallelism, 4), "subj"),
            os.path.join(out_dir, "adjacency"))
    traced_s = time.perf_counter() - t_pass

    missed = (scored.select(F.explode(F.array(
        F.when(F.col("head_entity").isNull(), F.col("head_norm")),
        F.when(F.col("tail_entity").isNull(), F.col("tail_norm"))))
        .alias("norm")).where(F.col("norm").isNotNull()).distinct()
        .localCheckpoint())
    m.update({
        "score.fused_rows_out": fused.count(),
        "score.xturn_rows_out": xturn.count() if w.cross_turn_k else 0,
        "pipeline.miss_norms": missed.count(),
        "triples.occurrences": raw.count(),
        "triples.triples_out": t8.count(),
    })
    if w.checkpointed:
        man = io.read_json(os.path.join(ckpt_root, "scored",
                                        checkpoint.MANIFEST))
        m.update({
            "checkpoint.batches": len({b["committed_at"]
                                       for b in man["buckets"].values()}),
            "checkpoint.rows_committed": sum(
                b["output_rows"] for b in man["buckets"].values()),
            "checkpoint.bytes_written": dir_bytes(
                os.path.join(ckpt_root, "scored")),
        })
    if m["pipeline.miss_norms"]:
        # the node set resolve_entities hands to canon
        m.update(canon_breakdown(
            tr, missed.union(dict_df.select("norm")).distinct(),
            feature="char", tau=spec.TAU_DUP))
    m.update(scorer_micro(in_path))
    return m, traced_s


def trace_corpus(spark, w, in_path: str, tr: Tracer,
                 out_dir: str) -> tuple[dict, float]:
    """Traced pass over ``kg/corpus_main.py``'s calls."""
    t_pass = time.perf_counter()
    with tr.span("io.scan"):
        docs = io.read_table(spark, in_path).select(
            "doc_id", "text").localCheckpoint()
    with tr.span("corpus.pipeline"):
        out = corpus.corpus_pipeline(docs).localCheckpoint()
    with tr.span("io.write"):
        io.write_table(out.repartitionByRange(
            max(spark.sparkContext.defaultParallelism, 4),
            "shard", "pack_id"), os.path.join(out_dir, "corpus"))
    traced_s = time.perf_counter() - t_pass
    # the norms corpus_pipeline deduplicates: its QC columns, filtered
    # with its default thresholds (min_tokens=5, stopword ratio > 0.05)
    qc = corpus._qc_cols(docs).where(
        (F.col("n_tokens") >= 5) & (F.col("stopword_ratio") > 0.05))
    norms = qc.select("norm").distinct().localCheckpoint()
    m = {"corpus.survivors": out.count(),
         "corpus.exact_survivors": norms.count()}
    # corpus_pipeline's default near-dup threshold
    m.update(canon_breakdown(tr, norms, feature="word", tau=0.5))
    return m, traced_s


def scorer_micro(in_path: str) -> dict:
    """Single-process per-call costs of the fused scorer's steps on the
    first ``MICRO_TURNS`` turns in (conv_id, turn_idx) order."""
    import pandas as pd

    pdf = (pd.read_parquet(in_path, columns=["conv_id", "turn_idx", "text"])
           .sort_values(["conv_id", "turn_idx"]).head(MICRO_TURNS))
    texts = [t or "" for t in pdf["text"]]
    params = model.load_default_params()

    def timed(fn, reps: int = 3) -> float:
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return statistics.median(ts)

    toks = [spec.tokenize(t) for t in texts]
    mens = [nlp.find_mentions(t) for t in toks]
    pairs = [p for t, m in zip(toks, mens) if len(m) >= 2
             for p in nlp.pair_instances(t, m)]
    ids = [p["token_ids"] for p in pairs]
    heads = [p["head_pos"] for p in pairs]
    tails = [p["tail_pos"] for p in pairs]
    lab, prob = model.predict(params, ids, heads, tails)  # builds tables
    kept = int(((lab != spec.REL_TO_ID[spec.NA_RELATION])
                & (prob >= spec.REL_THRESHOLD)).sum())
    n = len(texts)
    return {
        "spec.tokenize_us": 1e6 * timed(
            lambda: [spec.tokenize(t) for t in texts]) / n,
        "nlp.find_mentions_us": 1e6 * timed(
            lambda: [nlp.find_mentions(t) for t in toks]) / n,
        "nlp.pair_instances_us": 1e6 * timed(
            lambda: [nlp.pair_instances(t, m)
                     for t, m in zip(toks, mens) if len(m) >= 2]) / n,
        "model.predict_us": 1e6 * timed(
            lambda: model.predict(params, ids, heads, tails))
        / max(len(ids), 1),
        "score.instances_per_turn": len(ids) / n,
        "score.keep_ratio": kept / len(ids) if ids else 0.0,
    }


def run_traced(w, seed: int) -> dict:
    """Cold set-up with the event log on, ``UNTRACED`` untraced
    iterations (the first checked against the truth, the last the
    reference time), then the traced pass and the per-layer table."""
    log_dir = run.fresh_dir("eventlog")
    os.makedirs(log_dir)
    spark, bc, setup = run.setup_session({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false"})
    in_path, truth = gen.materialize(os.path.join(run.WORK, "cache"),
                                     w.kind, seed, w.size)
    failures, sums, failed = [], [], 0
    untraced_s = None
    for i in range(UNTRACED):
        out_dir, ckpt = run.fresh_dir("out"), run.fresh_dir("ckpt", str(i))
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        out = workloads.run_iteration(spark, bc, w, in_path, out_dir, ckpt)
        untraced_s = time.perf_counter() - t0
        sums.append(workloads.output_checksum(spark, w, out_dir,
                                              with_scores=False))
        if i == 0:
            errs = (workloads.quality(spark, w, out_dir, truth)["errors"]
                    + workloads.vacuity_errors(w, out, truth)
                    + workloads.manifest_errors(w, out, ckpt))
            failures += errs
            failed += bool(errs)

    spark.catalog.clearCache()
    tr = Tracer(spark, f"{w.name}-s{seed}")
    out_dir, ckpt = run.fresh_dir("out"), run.fresh_dir("ckpt", "traced")
    if w.is_kg:
        m, traced_s = trace_kg(spark, bc, w, in_path, tr, out_dir, ckpt)
    else:
        m, traced_s = trace_corpus(spark, w, in_path, tr, out_dir)
    sums.append(workloads.output_checksum(spark, w, out_dir,
                                              with_scores=False))
    run.shutdown()

    errs = trace_vacuity_errors(w, m)
    if len(set(sums)) != 1:
        errs.append(f"output checksums differ across passes: {sums}")
    failures += errs
    failed += bool(errs)
    groups = event_log_groups(log_dir)

    def grp(name: str, key: str) -> float:
        return groups.get(name, {}).get(key, 0)

    m.update(setup)
    m.update({
        "io.scan_s": tr.seconds("io.scan"),
        "io.scan_bytes": dir_bytes(in_path),
        "io.write_s": tr.seconds("io.write"),
        "io.write_bytes": dir_bytes(out_dir),
        "score.fused_s": tr.seconds("score.fused"),
        "score.fused_task_s": grp("score.fused", "task_s"),
        "score.xturn_s": tr.seconds("score.xturn"),
        "score.xturn_task_s": grp("score.xturn", "task_s"),
        "score.xturn_shuffle_bytes": grp("score.xturn", "shuffle_bytes"),
        "pipeline.resolve_s": tr.seconds("pipeline.resolve"),
        "triples.dedup_s": tr.seconds("triples.dedup"),
        "triples.shuffle_bytes": grp("triples.dedup", "shuffle_bytes"),
        "triples.adjacency_s": tr.seconds("triples.adjacency"),
        "checkpoint.commit_s": tr.seconds("checkpoint.commit"),
        "corpus.pipeline_s": tr.seconds("corpus.pipeline"),
        "trace.overhead_s": traced_s - untraced_s,
    })
    fused_s = m["score.fused_s"]
    m["score.busy_ratio"] = (m["score.fused_task_s"] / (fused_s * run.CPUS)
                             if fused_s else 0.0)
    metrics = {k: m.get(k, 0) for k in UNITS}

    art_dir = os.path.join(run.WORK, "trace")
    os.makedirs(art_dir, exist_ok=True)
    with open(os.path.join(art_dir, f"{w.name}-s{seed}.json"), "w") as f:
        json.dump({"spans": tr.spans, "layers": metrics,
                   "job_groups": groups}, f, indent=1)
    return {"metrics": metrics, "failures": failures,
            "attempted": UNTRACED + 1,
            "failed": failed,
            "context": {"workload": w.name, "seed": seed,
                        "rows": truth["rows"], "untraced_s": untraced_s,
                        "traced_s": traced_s, "host": run.host_context()}}


def trace_vacuity_errors(w, m: dict) -> list:
    """What each workload must exercise, read off the layer counters."""
    errors = []
    if w.kind == "clean" and m["pipeline.miss_norms"]:
        errors.append("clean workload has dictionary misses")
    if w.kind == "noisy" and not m["pipeline.miss_norms"]:
        errors.append("noisy workload has no dictionary misses")
    if w.checkpointed and not m.get("checkpoint.batches"):
        errors.append("no checkpoint batches committed")
    if not w.is_kg and not m["canon.dropped_buckets"]:
        errors.append("no LSH bucket over the block cap")
    return errors

"""Spans and per-layer metrics for the traced run, recorded from outside
the library.

The tracer swaps the library's public functions, in the namespaces that
call them, for wrappers that record a span (name, start, end, parent)
around each call. Spark is lazy, so a wrapper materializes a returned
DataFrame (persist + count) inside its span; otherwise the work would be
charged to whichever later call happens to run the action. Spark's own
accounting fills in the rest:

- jobs come from the status store and are charged to the innermost span
  whose interval holds the job's submission time (one job runs at a time
  in a closed loop, and this also catches jobs that Structured Streaming
  submits from its own thread);
- shuffle-write and spill bytes are summed over those jobs' stages;
- Python UDF time comes from the session's ``perf`` UDF profiler, read
  before and after every span.

Bookkeeping the tracer itself needs (match counts, cluster counts) runs in
``trace.*`` spans, which no layer metric includes.
"""

from __future__ import annotations

import contextlib
import datetime
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    udf_s: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)
    shuffle_bytes: int = 0
    spill_bytes: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


def _udf_total(spark) -> float:
    results = spark._profiler_collector._perf_profile_results
    return sum(st.total_tt for st in results.values() if st is not None)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._cached: list[DataFrame] = []

    # -- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        u0 = _udf_total(self.spark)
        s = Span(name, time.time(), parent=parent, attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()
            s.udf_s = _udf_total(self.spark) - u0

    def add_span(self, name: str, start: float, end: float,
                 parent: int | None, **attrs) -> int:
        """Record a span measured by someone else (a streaming trigger)."""
        self.spans.append(Span(name, start, end, parent, attrs=dict(attrs)))
        return len(self.spans) - 1

    def bookkeeping(self, fn):
        """Run a tracer-only action outside every layer's accounting."""
        with self.span("trace.bookkeeping"):
            return fn()

    # -- patching ----------------------------------------------------------
    def patch(self, owner, attr: str, name: str, on_result=None,
              materialize: bool = True) -> None:
        """Replace ``owner.attr`` with a traced wrapper until ``unpatch``.
        ``on_result(span, result, args)`` may add attributes to the span;
        it runs outside every layer's accounting."""
        fn = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                df = out[0] if isinstance(out, tuple) else out
                if materialize and isinstance(df, DataFrame):
                    if not df.is_cached:
                        df.persist()
                        self._cached.append(df)
                    s.attrs["rows"] = df.count()
            if on_result is not None:
                self.bookkeeping(lambda: on_result(s, out, args))
            return out

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unpatch(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    # -- Spark accounting ----------------------------------------------------
    def attach_jobs(self) -> None:
        """Charge every Spark job to the innermost span holding its
        submission time, with its stages' shuffle-write and spill bytes."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        stage_bytes: dict[int, tuple[int, int]] = {}
        stages = store.stageList(None, False, False,
                                 sc._gateway.new_array(sc._jvm.double, 0),
                                 None)
        for i in range(stages.size()):
            st = stages.apply(i)
            sh, sp = stage_bytes.get(st.stageId(), (0, 0))
            stage_bytes[st.stageId()] = (
                sh + st.shuffleWriteBytes(),
                sp + st.diskBytesSpilled() + st.memoryBytesSpilled())
        if not self.spans:
            return
        t_lo = min(s.start for s in self.spans)
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if not j.submissionTime().isDefined():
                continue
            t = j.submissionTime().get().getTime() / 1000.0
            if t < t_lo:
                continue
            owner = self._innermost(t)
            if owner is None:
                continue
            span = self.spans[owner]
            span.jobs.append(j.jobId())
            ids = j.stageIds()
            for k in range(ids.size()):
                sh, sp = stage_bytes.get(ids.apply(k), (0, 0))
                span.shuffle_bytes += sh
                span.spill_bytes += sp

    def _innermost(self, t: float) -> int | None:
        best, best_dur = None, None
        for i, s in enumerate(self.spans):
            if s.start <= t <= s.end and (best is None or s.dur < best_dur):
                best, best_dur = i, s.dur
        return best

    # -- derived -----------------------------------------------------------
    def self_time(self, i: int) -> float:
        """Span duration minus the union of its children's intervals."""
        s = self.spans[i]
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == i)
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            a, b = max(a, s.start), min(b, s.end)
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return s.dur - covered

    def self_udf(self, i: int) -> float:
        return self.spans[i].udf_s - sum(
            c.udf_s for c in self.spans if c.parent == i)

    def named(self, *names: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.name in names]

    def dump(self) -> list[dict]:
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {"id": i, "name": s.name, "parent": s.parent,
             "start_s": round(s.start - t0, 6), "end_s": round(s.end - t0, 6),
             "self_s": round(self.self_time(i), 6),
             "jobs": len(s.jobs), "shuffle_bytes": s.shuffle_bytes,
             "spill_bytes": s.spill_bytes, "udf_s": round(s.udf_s, 6),
             **s.attrs}
            for i, s in enumerate(self.spans)
        ]


def progress_epochs(query) -> list[dict]:
    """Per-trigger records from ``StreamingQuery.recentProgress`` for the
    triggers that read data: start (epoch seconds), trigger and addBatch
    durations."""
    out = []
    for p in query.recentProgress:
        if not p.numInputRows:
            continue
        d = p.durationMs
        start = datetime.datetime.strptime(
            p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ"
        ).replace(tzinfo=datetime.timezone.utc).timestamp()
        out.append({"batch": p.batchId, "start": start,
                    "trigger_s": d.get("triggerExecution", 0) / 1000.0,
                    "add_batch_s": d.get("addBatch", 0) / 1000.0})
    return out


# ---------------------------------------------------------------------------
# layer metrics


def _sum(tr: Tracer, ids, attr: str) -> float:
    return sum(getattr(tr.spans[i], attr) for i in ids)


def _self(tr: Tracer, ids) -> float:
    return sum(tr.self_time(i) for i in ids)


def _jobs(tr: Tracer, ids) -> int:
    return sum(len(tr.spans[i].jobs) for i in ids)


def _attr(tr: Tracer, ids, key: str) -> float:
    return sum(tr.spans[i].attrs.get(key, 0) for i in ids)


def layer_metrics(tr: Tracer) -> dict[str, float]:
    """Every per-layer metric, 0 for a layer the workload never entered;
    the incremental_er.* and stream.* metrics only on streaming runs."""
    m: dict[str, float] = {}
    norm = tr.named("normalize.build_signatures")
    m["normalize.s"] = _self(tr, norm)
    m["normalize.rows_out"] = _attr(tr, norm, "rows")

    block = tr.named("blocking.lsh_block", "blocking.lsh_band_keys",
                     "blocking.two_table_pairs", "blocking.grouped_pairs")
    pairs_gen = tr.named("blocking.lsh_block", "blocking.two_table_pairs",
                         "blocking.grouped_pairs")
    m["blocking.s"] = _self(tr, block)
    m["blocking.candidates"] = _attr(tr, pairs_gen, "rows")
    m["blocking.oversized_blocks"] = _attr(tr, pairs_gen, "oversized_blocks")
    m["blocking.dropped_memberships"] = _attr(tr, pairs_gen,
                                              "dropped_memberships")
    m["blocking.jobs"] = _jobs(tr, block)
    m["blocking.shuffle_bytes"] = _sum(tr, block, "shuffle_bytes")
    m["blocking.udf_s"] = sum(tr.self_udf(i) for i in block)

    feat = tr.named("scoring.featurize_pairs")
    score = tr.named("scoring.fast_threshold_score", "scoring.featurize_pairs",
                     "scoring.threshold_scorer", "scoring.attach_labels",
                     "scoring.is_single_class")
    decided = tr.named("scoring.fast_threshold_score",
                       "scoring.threshold_scorer", "ml_scorer.score_with_model")
    m["scoring.s"] = _self(tr, score)
    m["scoring.featurize_s"] = _self(tr, feat)
    m["scoring.pairs"] = _attr(tr, decided, "rows")
    m["scoring.matches"] = _attr(tr, decided, "matches")
    m["scoring.jobs"] = _jobs(tr, score)
    m["scoring.shuffle_bytes"] = _sum(tr, score, "shuffle_bytes")
    m["scoring.spill_bytes"] = _sum(tr, score, "spill_bytes")
    m["scoring.udf_s"] = sum(tr.self_udf(i) for i in score)
    m["blocking.match_yield"] = (
        m["scoring.matches"] / m["blocking.candidates"]
        if m["blocking.candidates"] else 0.0)

    m["ml_scorer.train_s"] = _self(tr, tr.named("ml_scorer.train_scorer"))
    m["ml_scorer.score_s"] = _self(tr, tr.named("ml_scorer.score_with_model"))

    clus = tr.named("clustering.connected_components")
    m["clustering.s"] = _self(tr, clus)
    m["clustering.jobs"] = _jobs(tr, clus)
    m["clustering.clusters"] = _attr(tr, clus, "clusters")

    io = tr.named("io.run_or_resume")
    resumed = [i for i in io if tr.spans[i].attrs.get("resumed")]
    m["io.s"] = _self(tr, io)
    m["io.snapshot_bytes"] = _attr(tr, tr.named("op"), "snapshot_bytes")
    m["io.stages_resumed"] = len(resumed)
    m["io.resume_s"] = _self(tr, resumed)
    m["pipeline.self_s"] = _self(tr, tr.named("pipeline.run_pipeline"))

    epochs = tr.named("stream.epoch")
    if epochs:
        m.update(_stream_metrics(tr, epochs))

    dd = tr.named("dedup.minhash_lsh_dedup")
    m["dedup.s"] = _self(tr, dd)
    m["dedup.candidates"] = _attr(tr, dd, "candidates")
    m["dedup.pairs"] = _attr(tr, dd, "rows")
    m["dedup.verify_yield"] = (m["dedup.pairs"] / m["dedup.candidates"]
                               if m["dedup.candidates"] else 0.0)
    m["dedup.jobs"] = _jobs(tr, dd)
    m["dedup.shuffle_bytes"] = _sum(tr, dd, "shuffle_bytes")
    m["dedup.udf_s"] = sum(tr.self_udf(i) for i in dd)
    return m


def _stream_metrics(tr: Tracer, epochs: list[int]) -> dict[str, float]:
    """The incremental_er.* and stream.* metrics, for a run with epochs."""
    m: dict[str, float] = {}
    n_ep = len(epochs)

    def within_epochs(names):
        return [i for i in tr.named(*names)
                if _ancestor(tr, i, "stream.epoch")]

    m["incremental_er.signature_s"] = _self(
        tr, within_epochs(["normalize.build_signatures"]))
    m["incremental_er.upsert_s"] = _self(tr, tr.named("incremental_er.upsert"))
    m["incremental_er.block_s"] = _self(
        tr, within_epochs(["blocking.lsh_band_keys", "blocking.two_table_pairs"]))
    m["incremental_er.score_s"] = _self(
        tr, within_epochs(["scoring.fast_threshold_score"]))
    m["incremental_er.compact_s"] = _self(
        tr, tr.named("incremental_er.compact_matches"))
    m["incremental_er.jobs_per_epoch"] = sum(
        _jobs(tr, [i for i in _subtree(tr, e)
                   if tr.spans[i].name != "trace.bookkeeping"])
        for e in epochs) / n_ep
    m["incremental_er.touched_convs"] = _attr(
        tr, within_epochs(["normalize.build_signatures"]), "rows") / n_ep
    ratios = [tr.spans[i].attrs["parts_ratio"]
              for i in within_epochs(["normalize.build_signatures"])
              if "parts_ratio" in tr.spans[i].attrs]
    m["incremental_er.parts_rewritten_ratio"] = (
        sum(ratios) / len(ratios) if ratios else 0.0)
    m["stream.trigger_overhead_s"] = sum(
        tr.spans[e].attrs["trigger_s"] - tr.spans[e].attrs["add_batch_s"]
        for e in epochs)
    return m


def _ancestor(tr: Tracer, i: int, name: str) -> bool:
    p = tr.spans[i].parent
    while p is not None:
        if tr.spans[p].name == name:
            return True
        p = tr.spans[p].parent
    return False


def _subtree(tr: Tracer, root: int) -> list[int]:
    out, frontier = [root], [root]
    while frontier:
        kids = [i for i, s in enumerate(tr.spans) if s.parent in frontier]
        out += kids
        frontier = kids
    return out


def dominant_layer(m: dict[str, float], wall_s: float) -> tuple[str, float]:
    """The layer with the largest self time, and its share of wall_s."""
    times = {
        "normalize": m["normalize.s"],
        "blocking": m["blocking.s"],
        "scoring": m["scoring.s"],
        "ml_scorer": m["ml_scorer.train_s"] + m["ml_scorer.score_s"],
        "clustering": m["clustering.s"],
        "io": m["io.s"],
        "pipeline": m["pipeline.self_s"],
        "incremental_er": m.get("incremental_er.upsert_s", 0.0)
        + m.get("incremental_er.compact_s", 0.0),
        "dedup": m["dedup.s"],
    }
    name = max(times, key=times.get)
    return name, times[name] / wall_s if wall_s else 0.0


def is_match_count(df: DataFrame) -> int:
    return df.filter(F.col("is_match") == 1).count()

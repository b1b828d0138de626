"""Spans around the engine's layer functions, joined with Spark's event log.

``Tracer.install`` replaces module attributes of the engine (the layer
functions ``pipeline.run`` and ``plans.marts`` call) with wrappers at
run time; the engine's source is not edited.
Each wrapper opens a span (name, layer, start, end, parent) kept in
memory and sets a Spark job group named after the span, so every job
Spark runs while the span is the innermost open one is attributed to
it.  After the session stops, ``Tracer.report`` reads the event log
(job, stage and SQL-execution events) and the executor-side fetch log
that ``fakeapi`` writes, and reduces both to per-layer metrics.

A span's ``self_s`` is its duration minus the union of its children's
intervals, so within one span the children plus ``self_s`` account for
the wall time.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = ["pipeline", "history", "enrichment", "dims", "facts", "marts"]
SPARK_FIELDS = ["jobs", "tasks", "executor_run_s", "input_bytes", "shuffle_write_bytes", "spill_bytes"]
MART_FNS = ["top_tracks", "top_albums", "top_artists", "yearly_agg", "monthly_agg",
            "all_time_agg", "album_stats"]

# (layer, module path, attribute) of every wrapped function.
TARGETS = [
    ("pipeline", "spotify_streaming_etl_pipeline_spark.pipeline", "run"),
    ("history", "spotify_streaming_etl_pipeline_spark.pipeline", "max_loaded_ts"),
    ("history", "spotify_streaming_etl_pipeline_spark.pipeline", "read_history"),
    ("history", "spotify_streaming_etl_pipeline_spark.pipeline", "delta_filter"),
    ("enrichment", "spotify_streaming_etl_pipeline_spark.pipeline", "fetch_in_batches"),
    ("enrichment", "spotify_streaming_etl_pipeline_spark.pipeline", "enrich_partitions"),
    ("facts", "spotify_streaming_etl_pipeline_spark.pipeline", "build_fact_tracks"),
    ("facts", "spotify_streaming_etl_pipeline_spark.pipeline", "build_fact_podcasts"),
    ("facts", "spotify_streaming_etl_pipeline_spark.pipeline", "write_fact"),
    ("dims", "spotify_streaming_etl_pipeline_spark.pipeline", "_overwrite_parquet_safe"),
    *[("dims", "spotify_streaming_etl_pipeline_spark.plans.dims", f) for f in (
        "distinct_uris", "artist_uris_from_track_envelopes",
        "podcast_uris_from_episode_envelopes", "clean_tracks", "clean_artists",
        "clean_episodes", "clean_podcasts", "load_dim", "sentinel_episode",
        "sentinel_podcast", "build_dim_reason")],
    ("marts", "spotify_streaming_etl_pipeline_spark.plans.marts", "get_chart_data"),
    ("marts", "spotify_streaming_etl_pipeline_spark.plans.marts", "get_aggregated_data"),
    *[("marts", "spotify_streaming_etl_pipeline_spark.plans.marts", f) for f in MART_FNS],
]


def _du(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``; (0, 0) when missing."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return size, files


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Tracer:
    """In-memory span recorder; one per traced run."""

    def __init__(self, fetch_log_dir: str):
        self.sc = None
        self.spans: list[dict] = []
        self.fetch_log_dir = fetch_log_dir
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def _set_group(self, span: dict | None) -> None:
        if self.sc is None:
            return
        if span is None:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                self.sc.setLocalProperty(key, None)  # null removes the property
        else:
            self.sc.setJobGroup(f"etlbench-{span['id']}", span["name"])

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None, **attrs):
        """Open a span, child of the innermost open one."""
        stack = self._stack
        parent = stack[-1] if stack else None
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "parent": parent["id"] if parent else None,
               "op": op or (parent["op"] if parent else None),
               "t0": time.time(), "t1": None, **attrs}
        self.spans.append(rec)
        stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else None)

    # -- patching ------------------------------------------------------------

    def install(self) -> None:
        import importlib

        for layer, mod_name, attr in TARGETS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            setattr(mod, attr, self._wrap(orig, layer, f"{mod_name.rsplit('.', 1)[-1]}.{attr}"))
            self._patches.append((mod, attr, orig))
        # get_chart_data dispatches through a dict built at import time.
        marts = importlib.import_module("spotify_streaming_etl_pipeline_spark.plans.marts")
        for key, fn in list(marts._CHART_BUILDERS.items()):
            marts._CHART_BUILDERS[key] = getattr(marts, fn.__name__)
            self._patches.append((marts._CHART_BUILDERS, key, fn))

    def uninstall(self) -> None:
        for target, attr, orig in reversed(self._patches):
            if isinstance(target, dict):
                target[attr] = orig
            else:
                setattr(target, attr, orig)
        self._patches.clear()

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer) as rec:
                before = tracer._before(name, args, rec)
                out = fn(*args, **kwargs)
                tracer._after(name, args, out, before, rec)
                return out

        return wrapper

    @staticmethod
    def _before(name, args, rec):
        if name == "pipeline.fetch_in_batches":
            rec["uris"] = list(args[0])
        if name in ("pipeline._overwrite_parquet_safe", "pipeline.write_fact"):
            return _du(args[1])
        return None

    @staticmethod
    def _after(name, args, out, before, rec):
        if name == "pipeline.fetch_in_batches":
            rec["failures"] = len(out.failures)
        elif name == "pipeline.run":
            rec["dead_letters"] = len(out.dead_letters)
        elif name == "pipeline._overwrite_parquet_safe":
            after = _du(args[1])
            rec["bytes_written"] = after[0]
            rec["bytes_added"] = after[0] - before[0]
        elif name == "pipeline.write_fact":
            rec["rows"] = int(out.get("n_rows", 0))
            rec["files_added"] = _du(args[1])[1] - before[1]

    # -- reduction -----------------------------------------------------------

    def _fetch_records(self) -> list[dict]:
        recs = []
        for path in glob.glob(os.path.join(self.fetch_log_dir, "fetch-*.jsonl")):
            with open(path) as f:
                recs.extend(json.loads(line) for line in f)
        return recs

    def report(self, event_log_dir: str, known_uris: dict[str, set],
               measured_ops: set[str], session_s: float, op_p50_s: float) -> tuple[dict, dict]:
        """Per-layer metrics and the full span dump.

        ``known_uris`` maps an op name to the URIs already in the dims
        before that op; ``measured_ops`` names the ops that count
        toward the totals (warm-up and the traced-only no-op rerun do
        not); ``session_s``
        and ``op_p50_s`` are the traced run's session start and its
        end-to-end ``op_p50_s``."""
        ev = EventLog(event_log_dir)
        by_id = {s["id"]: s for s in self.spans}
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        for s in self.spans:
            s["dur_s"] = s["t1"] - s["t0"]
            kids = [(c["t0"], c["t1"]) for c in children[s["id"]]]
            s["self_s"] = s["dur_s"] - _union(kids)
            s["spark"] = ev.group_totals(f"etlbench-{s['id']}")

        def inclusive_jobs(s: dict) -> int:
            return s["spark"]["jobs"] + sum(inclusive_jobs(c) for c in children[s["id"]])

        measured = [s for s in self.spans if s["op"] in measured_ops]
        m: dict[str, float] = {"session.start_s": session_s, "traced.op_p50_s": op_p50_s}
        for layer in LAYERS:
            spans = [s for s in measured if s["layer"] == layer]
            m[f"{layer}.self_s"] = sum(s["self_s"] for s in spans)
            for k in SPARK_FIELDS:
                m[f"{layer}.spark.{k}"] = sum(s["spark"][k] for s in spans)

        def named(name):
            return [s for s in measured if s["name"] == name]

        runs = named("pipeline.run")
        incs = [s for s in runs if s["op"].startswith("increment")]
        m["pipeline.spark_jobs"] = _median([inclusive_jobs(s) for s in incs])
        m["pipeline.eager_s"] = sum(ev.group_busy_s(f"etlbench-{s['id']}") for s in runs)
        m["pipeline.noop_rerun_s"] = sum(s["dur_s"] for s in self.spans
                                         if s["name"] == "pipeline.run" and s["op"] == "noop")
        m["history.cutoff_s"] = sum(s["dur_s"] for s in named("pipeline.max_loaded_ts"))
        m["history.raw_scans"] = _median([
            ev.raw_scans([f"etlbench-{d['id']}" for d in _subtree(s, children)]) for s in incs])
        m["history.raw_bytes_read"] = sum(
            ev.raw_bytes([f"etlbench-{d['id']}" for d in _subtree(s, children)]) for s in runs)

        driver_fetch = named("pipeline.fetch_in_batches")
        worker_fetch = [r for r in self._fetch_records()
                        if any(s["t0"] <= r["t0"] <= s["t1"] for s in runs)]
        requested = known = 0
        for s in runs:
            kn = known_uris.get(s["op"], set())
            uris = [u for f in driver_fetch if f["op"] == s["op"] for u in f["uris"]]
            uris += [u for r in worker_fetch if s["t0"] <= r["t0"] <= s["t1"] for u in r["uris"]]
            requested += len(uris)
            known += sum(1 for u in uris if u in kn)
        m["enrichment.fetch_s"] = (sum(s["dur_s"] for s in driver_fetch)
                                   + sum(r["t1"] - r["t0"] for r in worker_fetch))
        m["enrichment.uris_requested"] = requested
        m["enrichment.known_uri_ratio"] = known / requested if requested else 0.0
        m["enrichment.dead_letters"] = sum(s["dead_letters"] for s in runs)

        swaps = named("pipeline._overwrite_parquet_safe")
        m["dims.build_s"] = sum(s["dur_s"] for s in measured
                                if s["layer"] == "dims" and s["name"].startswith("dims."))
        m["dims.write_s"] = sum(s["dur_s"] for s in swaps)
        ratios = []
        for s in incs:
            mine = [w for w in swaps if w["op"] == s["op"]]
            added = sum(w["bytes_added"] for w in mine)
            ratios.append(sum(w["bytes_written"] for w in mine) / max(added, 1))
        m["dims.rewrite_ratio"] = _median(ratios)

        writes = named("pipeline.write_fact")
        m["facts.write_s"] = sum(s["dur_s"] for s in writes)
        m["facts.rows_written"] = sum(s["rows"] for s in writes)
        m["facts.files_added"] = sum(s["files_added"] for s in writes)

        # A dashboard op span ("query:...") holds one mart builder call.
        queries = [s for s in measured if s["layer"] == "op" and s["name"].startswith("query")]
        for fn in MART_FNS:
            lat = [q["dur_s"] for q in queries
                   if any(d["name"] == f"marts.{fn}" for d in _subtree(q, children))]
            m[f"marts.{fn}_p50_s"] = _median(lat)
        m["marts.plan_s"] = _median([s["dur_s"] for s in measured
                                     if s["name"] in {f"marts.{f}" for f in MART_FNS}])
        m["marts.jobs_per_query"] = _median([inclusive_jobs(q) for q in queries])

        coverage = [
            {"span": s["id"], "op": s["op"], "dur_s": s["dur_s"], "self_s": s["self_s"],
             "children_s": sum(c["dur_s"] for c in children[s["id"]])}
            for s in runs
        ]
        dump = {"spans": [{k: v for k, v in s.items() if k != "uris"} for s in self.spans],
                "executor_fetches": [{k: v for k, v in r.items() if k != "uris"}
                                     for r in worker_fetch],
                "pipeline_run_coverage": coverage,
                "sql_executions": ev.executions}
        return m, dump


def _subtree(span: dict, children: dict) -> list[dict]:
    out, todo = [], [span]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(children[s["id"]])
    return out


class EventLog:
    """Jobs, stages and SQL executions from one uncompressed event log."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.executions: dict[str, str] = {}
        stage_job: dict[int, int] = {}
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line), stage_job)
        for sid, st in self.stages.items():
            job = self.jobs.get(stage_job.get(sid))
            if job is not None:
                job["stages"].append(st)

    def _event(self, e: dict, stage_job: dict[int, int]) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            self.jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                              "execution": props.get("spark.sql.execution.id"),
                              "t0": e["Submission Time"] / 1000, "t1": None, "stages": []}
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, jid)  # the first job to list a stage runs it
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1000
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            acc = {a["Name"]: a.get("Value") for a in info.get("Accumulables", [])}

            def num(name: str) -> float:
                return float(acc.get(name) or 0)

            scopes = " ".join(r.get("Scope") or "" for r in info.get("RDD Info", []))
            self.stages[info["Stage ID"]] = {
                "tasks": info["Number of Tasks"],
                "executor_run_s": num("internal.metrics.executorRunTime") / 1000,
                "input_bytes": num("internal.metrics.input.bytesRead"),
                "shuffle_write_bytes": num("internal.metrics.shuffle.write.bytesWritten"),
                "spill_bytes": num("internal.metrics.diskBytesSpilled"),
                "raw_json": '"Scan json ' in scopes,
            }
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.executions[str(e["executionId"])] = e.get("description", "")

    def _jobs(self, groups) -> list[dict]:
        groups = {groups} if isinstance(groups, str) else set(groups)
        return [j for j in self.jobs.values() if j["group"] in groups]

    def group_totals(self, group: str) -> dict:
        jobs = self._jobs(group)
        out = {"jobs": len(jobs)}
        for k in SPARK_FIELDS[1:]:
            out[k] = sum(st[k] for j in jobs for st in j["stages"])
        return out

    def group_busy_s(self, group: str) -> float:
        return _union([(j["t0"], j["t1"]) for j in self._jobs(group) if j["t1"]])

    def raw_scans(self, groups: list[str]) -> int:
        """SQL executions (or bare jobs) that ran a raw-JSON scan stage."""
        return len({j["execution"] or f"job{id(j)}" for j in self._jobs(groups)
                    if any(st["raw_json"] for st in j["stages"])})

    def raw_bytes(self, groups: list[str]) -> float:
        return sum(st["input_bytes"] for j in self._jobs(groups)
                   for st in j["stages"] if st["raw_json"])

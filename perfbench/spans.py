"""The traced run: spans around calls into each layer's public functions.

Nothing inside ``bfokg/`` changes. ``install`` rebinds the public
functions in the namespaces that call them (``bfokg.plans.pipeline``,
``bfokg.plans.curation``, ``bfokg.api`` and the modules those look names
up in at call time) to wrappers that open a span. Each span:

- has a name, a label (the table a write commits), start, end and the
  id of the span that was open when it started;
- sets its own Spark job group, so every job it launches is attributed
  to it; job, stage and task counts come from ``statusTracker`` after
  each operation, and executor run/CPU/GC time, shuffle and spill bytes
  from the event log the session writes to a scratch dir.

Spans stay in memory and are written out once, after the session ends.
A span's self time is its duration minus the part its child spans
cover; the root span of an operation is the operation itself, so the
self times of one operation add up to its wall time.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import shutil
import statistics
import time
import uuid

MB = 1024 * 1024

# layer metric -> the span names whose self times it sums
SELF_TIME_LAYERS = {
    "triples.self_s": ("extract_triples", "dedup_triples", "nodes_df"),
    "linking.self_s": ("link_triples", "alias_dict_df"),
    "dedup.self_s": ("minhash_lsh_pairs", "dedup_keep_list"),
    "sampling.self_s": ("hash_split", "stratified_sample"),
    "strategies.self_s": ("cascade", "classify", "infer_parents"),
    "rule_based.self_s": ("classify_rule_based",),
    "semantic.self_s": ("classify_semantic",),
    "ontology.dims_s": ("bfo_classes_df", "p31_rules_df", "keyword_rules_df"),
    "warehouse.write_s": ("write_table",),
    "warehouse.read_s": ("read_table",),
    "api.classify_call_s": ("Classifier.classify",),
    "api.collect_s": ("collect",),
}

# stage spans: each ends when its table's write commits
STAGES = {
    "pipeline": [("extract", "raw_triples"), ("edges", "edges"), ("nodes", "nodes")],
    "curation": [("stats", "doc_stats"), ("pairs", "dup_pairs"),
                 ("keep_list", "keep_list"), ("corpus", "corpus")],
}

SPARK_METRICS = ["spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
                 "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_read_mb",
                 "spark.shuffle_write_mb", "spark.spill_mb", "driver.gap_s"]


class Tracer:
    def __init__(self, work: str):
        self.log_dir = os.path.join(work, "eventlog", uuid.uuid4().hex[:12])
        os.makedirs(self.log_dir)
        # only the traced run sets these; the measured run keeps defaults
        self.conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(self.log_dir),
            "spark.eventLog.compress": "false",
        }
        self.active = False
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.ops: list[dict] = []

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    def _group(self, sp: dict | None) -> None:
        if sp is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(f"pb-{sp['id']}", sp["name"])

    @contextlib.contextmanager
    def span(self, name: str, label: str | None = None):
        if not self.active:
            yield None
            return
        sp = {"id": len(self.spans), "name": name, "label": label,
              "parent": self.stack[-1]["id"] if self.stack else None,
              "op": len(self.ops), "start": time.time()}
        self.spans.append(sp)
        self.stack.append(sp)
        self._group(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self.stack.pop()
            self._group(self.stack[-1] if self.stack else None)

    @contextlib.contextmanager
    def operation(self):
        """Root span of one traced operation."""
        with self.span("op") as root:
            yield root
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.ops.append(self._status_counts(root))

    def _status_counts(self, root: dict) -> dict:
        st = self.sc.statusTracker()
        op_spans = [s for s in self.spans if s["op"] == root["op"]]
        jobs = stages = tasks = 0
        for sp in op_spans:
            sp["jobs"] = list(st.getJobIdsForGroup(f"pb-{sp['id']}"))
            sp["stages"] = sp["tasks"] = 0
            for jid in sp["jobs"]:
                info = st.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    stage = st.getStageInfo(sid)
                    if stage is not None:
                        sp["stages"] += 1
                        sp["tasks"] += stage.numTasks
            jobs += len(sp["jobs"])
            stages += sp["stages"]
            tasks += sp["tasks"]
        return {"span": root["id"], "wall_s": root["end"] - root["start"],
                "spark.jobs": jobs, "spark.stages": stages, "spark.tasks": tasks}

    # ------------------------------------------------------------ install --

    def wrap(self, owner, attr: str, name: str, label=None) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name, label(*args, **kwargs) if label else None):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)

    def install(self) -> None:
        import bfokg.api as api
        import bfokg.operators.strategies as strategies
        import bfokg.plans.curation as curation
        import bfokg.plans.pipeline as pipeline
        import bfokg.sources.warehouse as warehouse

        def table(df, table_dir, *a, **k):
            return os.path.basename(os.path.normpath(table_dir))

        for name in ("extract_triples", "link_triples", "dedup_triples", "nodes_df",
                     "alias_dict_df", "cascade", "classify_rule_based",
                     "classify_semantic", "bfo_classes_df", "p31_rules_df",
                     "keyword_rules_df"):
            self.wrap(pipeline, name, name)
        for name in ("minhash_lsh_pairs", "dedup_keep_list", "hash_split",
                     "stratified_sample"):
            self.wrap(curation, name, name)
        for module in (pipeline, curation, warehouse):
            self.wrap(module, "write_table", "write_table", table)
            self.wrap(module, "read_table", "read_table",
                      lambda spark, table_dir, *a, **k: table(None, table_dir))
        # Classifier.classify imports these from the module at call time
        for name in ("classify", "infer_parents", "cascade"):
            self.wrap(strategies, name, name)
        self.wrap(api.Classifier, "classify", "Classifier.classify")

    # ------------------------------------------------------------ results --

    def self_times(self) -> None:
        children: dict = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                children.setdefault(sp["parent"], []).append(sp)
        for sp in self.spans:
            covered = _union([(c["start"], c["end"]) for c in children.get(sp["id"], ())])
            sp["self_s"] = (sp["end"] - sp["start"]) - covered

    def event_log_figures(self) -> None:
        """Per-op executor, GC, shuffle and spill figures plus the driver
        gap, from the event log (read after the session stopped)."""
        group_span = {f"pb-{sp['id']}": sp for sp in self.spans}
        stage_span, job_span, job_iv, tasks = {}, {}, {}, []
        # rolling event log: <dir>/eventlog_v2_<app>/events_<n>_<app>
        paths = glob.glob(os.path.join(self.log_dir, "*", "events_*"))
        for path in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        sp = group_span.get((ev.get("Properties") or {}).get("spark.jobGroup.id"))
                        if sp is not None:
                            job_span[ev["Job ID"]] = sp
                            job_iv[ev["Job ID"]] = [ev["Submission Time"] / 1e3, None]
                            for sid in ev["Stage IDs"]:
                                stage_span.setdefault(sid, sp)
                    elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_iv:
                        job_iv[ev["Job ID"]][1] = ev["Completion Time"] / 1e3
                    elif kind == "SparkListenerTaskEnd":
                        tasks.append(ev)
        per_op = {op["span"]: dict.fromkeys(SPARK_METRICS[3:], 0.0) for op in self.ops}
        roots = [op["span"] for op in self.ops]
        root_of = {sp["id"]: roots[sp["op"]] for sp in self.spans if sp["op"] < len(roots)}
        for ev in tasks:
            sp = stage_span.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if sp is None or m is None or sp["id"] not in root_of:
                continue
            acc = per_op[root_of[sp["id"]]]
            acc["spark.executor_run_s"] += m["Executor Run Time"] / 1e3
            acc["spark.executor_cpu_s"] += m["Executor CPU Time"] / 1e9
            acc["spark.gc_s"] += m["JVM GC Time"] / 1e3
            rd = m.get("Shuffle Read Metrics", {})
            acc["spark.shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0)
                                             + rd.get("Local Bytes Read", 0)) / MB
            acc["spark.shuffle_write_mb"] += (m.get("Shuffle Write Metrics", {})
                                              .get("Shuffle Bytes Written", 0)) / MB
            acc["spark.spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0)) / MB
        for op in self.ops:
            root = self.spans[op["span"]]
            ivs = [(max(s, root["start"]), min(e, root["end"]))
                   for jid, (s, e) in job_iv.items()
                   if e is not None and root_of.get(job_span[jid]["id"]) == root["id"]]
            per_op[root["id"]]["driver.gap_s"] = op["wall_s"] - _union(ivs)
            op.update(per_op[root["id"]])

    def metrics(self) -> dict:
        """Median over traced operations of each per-layer figure."""
        self.self_times()
        self.event_log_figures()
        shutil.rmtree(self.log_dir, ignore_errors=True)
        rows = []
        for op in self.ops:
            root = self.spans[op["span"]]
            spans = [s for s in self.spans if s["op"] == root["op"]]
            row = {k: v for k, v in op.items() if k not in ("span", "wall_s")}
            for metric, names in SELF_TIME_LAYERS.items():
                row[metric] = sum(s["self_s"] for s in spans if s["name"] in names)
            for plan, stages in STAGES.items():
                ends = {s["label"]: s["end"] for s in spans if s["name"] == "write_table"}
                prev = root["start"]
                for stage, tbl in stages:
                    end = ends.get(tbl)
                    row[f"{plan}.{stage}_s"] = (end - prev) if end else 0.0
                    prev = end or prev
            row["trace.unattributed_s"] = root["self_s"]
            rows.append(row)
        return {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops}, f)


def _union(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total

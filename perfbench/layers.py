"""What the traced run observes, layer by layer.

* ``Tracer`` — spans (name, start, end, parent, op id) kept in memory,
  recorded around the benchmark's calls into each engine module and
  around the ``TableStore`` public methods and the result stream of
  ``DataFrame.collect`` / ``toPandas``, which it wraps at class level
  for the traced run only; it also times each op's py4j calls, and
  ``leaf_share`` reconciles these leaves with the op's wall time.
* ``SparkProbe`` — per-op Spark work read from Spark's own trackers:
  a job group per op, ``statusTracker`` for job and stage ids, and the
  localhost REST API for job intervals, shuffle and spill bytes.
* ``LakeScan`` — files and bytes each op adds under the lake root,
  telling newly written files from hardlinks to existing ones.
* ``catalyst_phases``, ``peak_rss_mb``, ``lake_bytes`` — single readings.
"""

from __future__ import annotations

import functools
import json
import os
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


# spans that time one leaf layer: plan construction, TableStore I/O, and
# results streamed from the JVM to Python (planning and jobs run in a JVM
# serving thread while Python reads the stream, outside any py4j call)
LEAF_SPANS = ("queries.build", "sources.append", "sources.merge", "sources.overwrite",
              "sources.delete", "sources.read", "spark.collect")


class Tracer:
    """Span recorder. Disabled, every method is a no-op, so the untraced
    run pays nothing but a context-manager call per layer boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []  # [name, start, end, parent_idx, op_id]
        self._stack: list[int] = []
        self.op_id: str | None = None
        # wall-clock seconds at perf_counter() == 0, to place Spark's own
        # job timestamps on the spans' clock
        self.epoch = time.time() - time.perf_counter()
        self.driver_calls: dict[str, list[tuple[float, float]]] = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.op_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def wrap(self, owner: type, attr: str, name: str) -> None:
        """Record a span around every call of ``owner.attr``."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def op_layers(self, op_id: str) -> tuple[dict[str, float], dict[str, int]]:
        """For one op: the inclusive seconds of each layer (outermost
        span of a name only, so a nested call of the same method is not
        counted twice) and the call count of each layer name. The op's
        own root span is named ``op``."""
        idxs = [i for i, s in enumerate(self.spans) if s[4] == op_id]
        secs: dict[str, float] = {}
        calls: dict[str, int] = {}
        for i in idxs:
            name, start, end, parent, _ = self.spans[i]
            if name == "op":
                continue
            calls[name] = calls.get(name, 0) + 1
            p = parent
            nested = False
            while p is not None:
                if self.spans[p][0] == name:
                    nested = True
                    break
                p = self.spans[p][3]
            if not nested:
                secs[name] = secs.get(name, 0.0) + (end - start)
        return secs, calls

    def time_driver_calls(self, client) -> None:
        """Record the interval of every Python → JVM call (py4j
        ``send_command``) made while an op runs: the Spark driver's
        share of the op, plans built and actions issued included."""
        if not self.enabled:
            return
        send = client.send_command

        def timed(*args, **kwargs):
            if self.op_id is None:
                return send(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return send(*args, **kwargs)
            finally:
                self.driver_calls.setdefault(self.op_id, []).append((t0, time.perf_counter()))

        client.send_command = timed

    def leaf_share(self, op_id: str, job_intervals: list[tuple[float, float]]) -> float:
        """Share of the op's wall time that its leaf layers account for,
        each measured by its own instrument: ``queries.build``,
        ``TableStore`` method and result-stream (``spark.collect``)
        spans, the op's Python → JVM calls (the py4j client), and its
        Spark job intervals (Spark's listener timestamps, wall clock).
        Overlaps count once. Module wrapper spans (``serving_index.*``,
        ``pipeline.*``, ...) and the harness's own spans are not leaves,
        so time the op spends in Python outside every leaf — engine code
        between JVM calls, converting a fetched result to pandas — stays
        unattributed and lowers the share."""
        own = [s for s in self.spans if s[4] == op_id]
        root = next(s for s in own if s[0] == "op")
        lo, hi = root[1], root[2]
        iv = [(s[1], s[2]) for s in own if s[0] in LEAF_SPANS]
        iv += self.driver_calls.get(op_id, [])
        iv += [(a - self.epoch, b - self.epoch) for a, b in job_intervals]
        covered = _union_length([(max(a, lo), min(b, hi)) for a, b in iv])
        return covered / (hi - lo) if hi > lo else 1.0

    def dump(self) -> list[dict]:
        t0 = self.spans[0][1] if self.spans else 0.0
        return [
            {"name": n, "start": round(s - t0, 6), "end": round(e - t0, 6),
             "parent": p, "op": o}
            for n, s, e, p, o in self.spans
        ]


def _union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _rest_time(s: str) -> float:
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


class SparkProbe:
    """Spark work of one op, counted under a job group named by op id."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def begin(self, op_id: str) -> None:
        self.sc.setJobGroup(op_id, op_id)

    def collect(self, op_id: str) -> dict:
        job_ids = set(self.tracker.getJobIdsForGroup(op_id))
        # the REST store is fed by the listener bus, which may lag the
        # action's return by a few milliseconds
        for _ in range(300):
            jobs = [j for j in self._get("/jobs") if j["jobId"] in job_ids]
            if len(jobs) == len(job_ids) and all(
                j["status"] in ("SUCCEEDED", "FAILED") and j.get("completionTime") for j in jobs
            ):
                break
            time.sleep(0.01)
        intervals = sorted(
            (_rest_time(j["submissionTime"]), _rest_time(j["completionTime"])) for j in jobs
        )
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = tasks = failed = shuffle = spill = 0
        for att in self._get("/stages"):
            if att["stageId"] not in stage_ids or att["status"] == "SKIPPED":
                continue
            stages += 1
            tasks += att["numTasks"]
            failed += att["numFailedTasks"]
            shuffle += att["shuffleWriteBytes"]
            spill += att["memoryBytesSpilled"] + att["diskBytesSpilled"]
        return {
            "jobs": len(jobs), "stages": stages, "tasks": tasks,
            "failed_tasks": failed, "shuffle_write_bytes": shuffle,
            "spill_bytes": spill, "job_busy_s": _union_length(intervals),
            "job_intervals": intervals,
        }


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning milliseconds of one executed
    DataFrame, from Spark's ``QueryPlanningTracker``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        o = phases.get(k)
        out[k] = float(o.get().durationMs()) if o.isDefined() else 0.0
    return out


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def release_caches(spark) -> None:
    """Between ops, free what the last op left cached — SQL-cached
    relations and persisted RDDs (localCheckpoint blocks) — as the
    repository's ``bench.py`` does between queries."""
    spark.catalog.clearCache()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().values().iterator()
    while it.hasNext():
        it.next().unpersist(False)


class LakeScan:
    """Diff of the lake tree between two scans: files written (new or
    rewritten paths, with their bytes) and files hardlinked (new paths
    sharing the inode of a path that existed before and still does —
    an inode number freed by a delete and reused is not a link)."""

    def __init__(self, root: str):
        self.root = root
        self.files: dict[str, tuple[int, int, int]] = {}  # path -> (inode, mtime_ns, size)

    def _walk(self) -> dict[str, tuple[int, int, int]]:
        out = {}
        for dirpath, _dirs, files in os.walk(self.root):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
        return out

    def step(self) -> dict[str, int]:
        now = self._walk()
        by_inode: dict[int, list[str]] = {}
        for p, (ino, _m, _s) in self.files.items():
            by_inode.setdefault(ino, []).append(p)
        written = linked = nbytes = 0
        for p, meta in now.items():
            if self.files.get(p) == meta:
                continue
            ino, _mtime, size = meta
            if any(q != p and now.get(q, (None,))[0] == ino for q in by_inode.get(ino, ())):
                linked += 1
            else:
                written += 1
                nbytes += size
        self.files = now
        return {"files_written": written, "bytes_written": nbytes, "hardlinked_files": linked}


def lake_bytes(root: str) -> int:
    """Bytes under ``root``, each inode once (a hardlink costs no space)."""
    seen: dict[tuple[int, int], int] = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            try:
                st = os.stat(os.path.join(dirpath, f))
            except FileNotFoundError:
                continue
            seen[(st.st_dev, st.st_ino)] = st.st_size
    return sum(seen.values())


def versions_retained(root: str) -> int:
    """Version directories kept by every ``TableStore`` table under root."""
    n = 0
    for dirpath, dirs, files in os.walk(root):
        if "_CURRENT" in files:
            n += sum(1 for d in dirs if d.startswith("v_"))
    return n


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of the Python driver plus its JVM child."""
    return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid)) / 1024.0


def filesystem_of(path: str) -> str:
    """Filesystem type of the mount that holds ``path``."""
    path = os.path.realpath(path)
    best, fstype = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                best, fstype = mnt, parts[2]
    return fstype

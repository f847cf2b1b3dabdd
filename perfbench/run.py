#!/usr/bin/env python3
"""Ingest benchmark: seeded drains through the operator CLI.

    python3 perfbench/run.py --workload small_files --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program from
source (see build.py). Each run generates its inputs from the seed, runs
the workload's command in fresh JVMs until `--seconds` are used, gates
every drain for correctness, removes its inputs and sinks, and prints one
JSON line last: end-to-end metrics with `--trace 0`, per-layer metrics
with `--trace 1`. See README.md for the metric definitions.
"""

import argparse
import base64
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import fixtures  # noqa: E402
import gate  # noqa: E402
import trace  # noqa: E402

from cryptography.hazmat.primitives import serialization  # noqa: E402
from cryptography.hazmat.primitives.asymmetric import rsa  # noqa: E402

KEY_ID = "perfbench-master-key"
# The serial collector grows the heap by occupancy, so peak RSS repeats
# from run to run; G1 grows it by measured pause times, which on a shared
# box made the same drain's peak RSS jump between ~500 and ~660 MB.
HEAP = "-Xms256m -Xmx2g -XX:+UseSerialGC"
JVM_FLAGS = HEAP.split() + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
              "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
              "sun.nio.cs", "sun.security.action", "sun.util.calendar")
] + ["-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dio.netty.tryReflectionSetAccessible=true"]
JVM_TIMEOUT_S = 150
RUN_LIMIT_S = 165

WORKLOADS = {
    "small_files": dict(kind="days", days=24, files_per_day=10, median=2048, sigma=0.8, nested_per_day=2,
                        empties=3, aes="gcm", verify=64),
    "day_drain": dict(kind="days", days=4, files_per_day=4, median=3 << 20, sigma=0.5, nested_per_day=1,
                      empties=0, aes="gcm", verify=None),
    "kafka_drain": dict(kind="kafka", topics=("audit", "access"), partitions=4, records=2000, median=1024,
                        sigma=0.6, days=4, tombstones=0.02, aes="eax", verify=64, throttle=0.01),
}
MIN_IDLE = 2


class GateFailure(Exception):
    pass


class Proc:
    """One finished child process as seen from outside."""

    def __init__(self, wall, cpu, rss_mb, first, start_ms, end_ms):
        self.wall, self.cpu, self.rss_mb = wall, cpu, rss_mb
        self.first, self.start_ms, self.end_ms = first, start_ms, end_ms


class Bench:
    def __init__(self, args):
        self.args = args
        self.spec = WORKLOADS[args.workload]
        self.nproc = len(os.sched_getaffinity(0))
        self.live = []
        self.cp = os.pathsep.join(build.build())
        self.t0 = time.monotonic()
        self.work = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=self._mkdir(build.build_dir(), "work"))
        self.tmp = self._mkdir(self.work, "tmp")
        self.n = 0
        self.attempted = 0
        self.failed = 0

    @staticmethod
    def _mkdir(*parts):
        p = os.path.join(*parts)
        os.makedirs(p, exist_ok=True)
        return p

    def path(self, *parts):
        return os.path.join(self.work, *parts)

    # ------------------------------------------------------------ processes

    def spawn(self, argv, log):
        p = subprocess.Popen(argv, cwd=self.tmp, stdin=subprocess.DEVNULL, stdout=open(log, "w"),
                             stderr=subprocess.STDOUT)
        self.live.append(p)
        return p

    def reap(self, p, timeout=10):
        """Wait for p, killing it after `timeout` seconds."""
        deadline = time.monotonic() + timeout
        while p.returncode is None:
            pid, status, _ = os.wait4(p.pid, os.WNOHANG)
            if pid:
                p.returncode = os.waitstatus_to_exitcode(status)
            elif time.monotonic() > deadline:
                p.kill()
                deadline = float("inf")
            else:
                time.sleep(0.01)
        if p in self.live:
            self.live.remove(p)

    def jvm(self, main, argv, master=None, extra_flags=(), env_extra=None, first=None, log_name="jvm"):
        """Run one JVM to completion; returns Proc. `first` is a zero-arg
        predicate polled every 5 ms to time the first commit."""
        self.n += 1
        log = self.path(f"{self.n:03d}-{log_name}.log")
        env = dict(os.environ, SPARK_MASTER=master or f"local[{self.nproc}]", SPARK_LOCAL_DIRS=self.tmp,
                   **(env_extra or {}))
        env.pop("LOGLEVEL", None)
        cmd = ["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={self.tmp}", f"-Dspark.local.dir={self.tmp}"]
        cmd += list(extra_flags) + ["-cp", self.cp, main] + argv
        start_ms = time.time() * 1000
        t0 = time.monotonic()
        p = subprocess.Popen(cmd, cwd=self.tmp, env=env, stdin=subprocess.DEVNULL, stdout=open(log, "w"),
                             stderr=subprocess.STDOUT)
        self.live.append(p)
        t_first = None
        while True:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            now = time.monotonic()
            if t_first is None and first is not None and first():
                t_first = now - t0
            if pid:
                break
            if now - t0 > JVM_TIMEOUT_S or now - self.t0 > RUN_LIMIT_S:
                p.kill()
                pid, status, ru = os.wait4(p.pid, 0)
                break
            time.sleep(0.005)
        wall = time.monotonic() - t0
        p.returncode = os.waitstatus_to_exitcode(status)
        self.live.remove(p)
        self.log(f"{log_name}: {wall:.2f}s wall, {ru.ru_utime + ru.ru_stime:.1f}s cpu")
        if p.returncode != 0:
            raise GateFailure(f"{main} exited {p.returncode} after {wall:.1f}s; log tail:\n" + _tail(log))
        return Proc(wall, ru.ru_utime + ru.ru_stime, ru.ru_maxrss / 1024, t_first, start_ms, start_ms + wall * 1000)

    def traced_flags(self, name, progress=None):
        out = self.path(f"{name}.events.jsonl")
        flags = ["-Dspark.extraListeners=perfbench.TraceListener",
                 "-Dspark.sql.streaming.streamingQueryListeners=perfbench.StreamTraceListener",
                 f"-Dperfbench.trace.out={out}"]
        if progress:
            flags.append(f"-Dperfbench.trace.progress={progress}")
        return flags, out

    def cleanup(self):
        for p in list(self.live):
            if p.poll() is None:
                p.kill()
            try:
                p.wait(timeout=10)
            except (subprocess.TimeoutExpired, ChildProcessError):
                pass
        self.live.clear()
        shutil.rmtree(self.work, ignore_errors=True)

    def log(self, msg):
        print(f"[{time.monotonic() - self.t0:6.1f}s] {msg}", file=sys.stderr, flush=True)

    def over_budget(self):
        return time.monotonic() - self.t0 > RUN_LIMIT_S

    # --------------------------------------------------------------- inputs

    def make_inputs(self):
        s, seed = self.spec, self.args.seed
        t0 = time.monotonic()
        if s["kind"] == "kafka":
            self.src = self.path("kafka")
            self.expected, self.ends = fixtures.write_kafka(
                self.src, seed, s["topics"], s["partitions"], s["records"], s["median"], s["sigma"], s["days"],
                s["tombstones"])
        else:
            self.src = self.path("src")
            self.expected = fixtures.write_days(self.src, seed, s["days"], s["files_per_day"], s["median"],
                                                s["sigma"], s["nested_per_day"], s["empties"])
            self.last_day = max(k[len(fixtures.PREFIX):].split("/")[0] for k in self.expected)
        self.source_bytes = fixtures.manifest_bytes(self.expected)
        print(f"fixture {self.args.workload} seed={seed} sha256={fixtures.tree_hash(self.src)} "
              f"objects={len(self.expected)} bytes={self.source_bytes} ({time.monotonic() - t0:.2f}s)")
        key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
        self.private_key = key
        self.pub_file = self.path("wrapping-key.pub.b64")
        self.priv_file = self.path("wrapping-key.pkcs8.b64")
        with open(self.pub_file, "w") as f:
            f.write(base64.b64encode(key.public_key().public_bytes(
                serialization.Encoding.DER, serialization.PublicFormat.SubjectPublicKeyInfo)).decode())
        with open(self.priv_file, "w") as f:
            f.write(base64.b64encode(key.private_bytes(
                serialization.Encoding.DER, serialization.PrivateFormat.PKCS8,
                serialization.NoEncryption())).decode())

    # ------------------------------------------------------------- endpoint

    def start_endpoint(self):
        self.store_dir = self.path("s3")
        port_file = self.path("s3.port")
        self.endpoint_proc = self.spawn(
            ["java", "-Xmx256m", "-XX:-UsePerfData", "-cp", self.cp, "perfbench.S3Endpoint", self.store_dir,
             port_file, str(self.args.seed), str(self.spec["throttle"]), str(self.nproc)],
            self.path("s3-endpoint.log"))
        deadline = time.monotonic() + 30
        while not os.path.exists(port_file):
            if self.endpoint_proc.poll() is not None or time.monotonic() > deadline:
                raise GateFailure("S3 endpoint did not start:\n" + _tail(self.path("s3-endpoint.log")))
            time.sleep(0.02)
        self.endpoint = f"http://127.0.0.1:{open(port_file).read().strip()}"
        self.log(f"S3 endpoint ready at {self.endpoint}")

    def endpoint_stats(self, path="/__stats", method="GET"):
        req = urllib.request.Request(self.endpoint + path, method=method, data=b"" if method == "POST" else None)
        with urllib.request.urlopen(req, timeout=10) as r:
            return json.loads(r.read())

    def stop_endpoint(self):
        try:
            self.endpoint_stats("/__shutdown", "POST")
        finally:
            self.reap(self.endpoint_proc)

    # --------------------------------------------------------------- drains

    def sink(self, i):
        """Fresh sink, watermark and checkpoint for drain i."""
        d = dict(progress=self.path(f"wm-{i}", "progress"), ckpt=self.path(f"ckpt-{i}"))
        if self.spec["kind"] == "kafka":
            d["bucket"] = f"drain-{i}"
            d["store_root"] = os.path.join(self.store_dir, d["bucket"])
        else:
            d["store_root"] = self.path(f"out-{i}")
        return d

    def cli_args(self, sink):
        a = ["--src-dir", self.src, "--s3-prefix", fixtures.PREFIX, "--key-id", KEY_ID,
             "--public-key-file", self.pub_file, "--progress-file", sink["progress"],
             "--aes-mode", self.spec["aes"]]
        if self.spec["kind"] == "kafka":
            a += ["--s3-bucket", sink["bucket"], "--s3-endpoint", self.endpoint, "--s3-region", "eu-west-2",
                  "--streaming", sink["ckpt"], "--kafka-root", self.src]
        else:
            a += ["--out-root", sink["store_root"]]
        return a

    def cli_env(self):
        return {"AWS_ACCESS_KEY_ID": "perfbench", "AWS_SECRET_ACCESS_KEY": "perfbench"}

    def first_commit(self, sink):
        if self.spec["kind"] == "kafka":
            commits = os.path.join(sink["ckpt"], "commits")
            return lambda: os.path.isdir(commits) and any(n.isdigit() for n in os.listdir(commits))
        return lambda: os.path.exists(sink["progress"])

    def store(self, sink):
        if self.spec["kind"] == "kafka":
            return gate.endpoint_store(sink["store_root"])
        return gate.local_store(sink["store_root"])

    def drain(self, i, master=None, traced=None):
        sink = self.sink(i)
        flags, events = self.traced_flags(traced, sink["progress"]) if traced else ((), None)
        p = self.jvm("graft.ingest.IngestCli", self.cli_args(sink), master=master, extra_flags=flags,
                     env_extra=self.cli_env(), first=self.first_commit(sink), log_name=f"drain-{i}")
        return sink, p, events

    def gate_drain(self, sink):
        """Check a finished drain."""
        store = self.store(sink)
        n = self.spec["verify"]
        verify = list(self.expected) if n is None else gate.sample(self.expected, n, self.args.seed)
        failed, problems = gate.check_store(store, self.expected, KEY_ID, self.private_key, self.spec["aes"],
                                            verify)
        if self.spec["kind"] == "kafka":
            offsets = gate.committed_offsets(sink["ckpt"])
            if offsets != self.ends:
                problems.append(f"committed offsets {offsets} != log ends {self.ends}")
            stats = self.endpoint_stats()
            b = sink["bucket"]
            retries = stats.get(f"PUT.{b}", 0) - len(store.objects)
            throttles = stats.get(f"throttled.{b}", 0)
            if retries != throttles:
                problems.append(f"retries {retries} != injected throttles {throttles}")
            sink["retries"], sink["puts"] = retries, stats.get(f"PUT.{b}", 0)
            sink["stored_bytes"] = stats.get(f"stored_bytes.{b}", 0)
        else:
            if gate.read_progress(sink["progress"]) != self.last_day:
                problems.append(f"progress {gate.read_progress(sink['progress'])} != last day {self.last_day}")
            sink["stored_bytes"] = store.stored_bytes()
        self.record(len(self.expected), failed, problems)

    def idle(self, sink):
        """Re-run on drained input: must land nothing and leave the
        watermark unchanged. Returns the wall seconds."""
        store_before = self.store(sink).snapshot()
        wm_before = gate.tree_snapshot(os.path.dirname(sink["progress"]))
        ckpt_before = gate.tree_snapshot(os.path.join(sink["ckpt"], "commits"))
        puts_before = self.endpoint_stats().get(f"PUT.{sink['bucket']}", 0) if "bucket" in sink else 0
        p = self.jvm("graft.ingest.IngestCli", self.cli_args(sink), env_extra=self.cli_env(), log_name="idle")
        problems = []
        if self.store(sink).snapshot() != store_before:
            problems.append("idle re-run changed the store")
        if gate.tree_snapshot(os.path.dirname(sink["progress"])) != wm_before:
            problems.append("idle re-run moved the watermark")
        if gate.tree_snapshot(os.path.join(sink["ckpt"], "commits")) != ckpt_before:
            problems.append("idle re-run committed a batch")
        if "bucket" in sink and self.endpoint_stats().get(f"PUT.{sink['bucket']}", 0) != puts_before:
            problems.append("idle re-run sent PUTs")
        self.record(0, 0, problems)
        return p.wall

    def record(self, attempted, failed, problems):
        self.attempted += attempted
        self.failed += failed
        if problems:
            raise GateFailure("; ".join(problems[:10]))

    # ------------------------------------------------------------ read-back

    def read(self, name, store_root, traced=False):
        """`IngestReader.read` over a landed store; every row is compared
        with its source."""
        out = self.path(f"{name}.tsv")
        flags, events = self.traced_flags(name) if traced else ((), None)
        p = self.jvm("perfbench.ReadBack", [store_root, fixtures.PREFIX, self.priv_file, out],
                     extra_flags=flags, log_name=name)
        failed, problems = gate.check_rows(out, self.expected)
        self.record(len(self.expected), failed, problems)
        return p, events

    # ------------------------------------------------------------ workloads

    def measure(self):
        """End-to-end metrics from untraced drains: drain + idle re-run
        cycles while the next cycle fits in --seconds (at least one), then
        idle re-runs until there are MIN_IDLE set-up samples."""
        start = time.monotonic()
        drains, idles = [], []
        while True:
            c0 = time.monotonic()
            sink, p, _ = self.drain(len(drains))
            self.gate_drain(sink)
            drains.append((p, sink))
            idles.append(self.idle(sink))
            cycle = time.monotonic() - c0
            if time.monotonic() - start + cycle > self.args.seconds or self.over_budget():
                break
        while len(idles) < MIN_IDLE:
            idles.append(self.idle(drains[-1][1]))
        objects = len(self.expected)
        mb = self.source_bytes / 1e6
        return {
            "setup_s": statistics.median(idles),
            "records_per_s": statistics.median(objects / p.wall for p, _ in drains),
            "mb_per_s": statistics.median(mb / p.wall for p, _ in drains),
            "first_commit_s": statistics.median(p.first for p, _ in drains),
            "cpu_s": statistics.median(p.cpu for p, _ in drains),
            "peak_rss_mb": statistics.median(p.rss_mb for p, _ in drains),
            "stored_bytes_per_source_byte":
                statistics.median(s["stored_bytes"] / self.source_bytes for _, s in drains),
        }

    def traced(self):
        """Per-layer metrics: an untraced drain as the overhead base, a
        traced drain at local[nproc] (then its idle re-run) and at
        local[1], a traced read-back of the landed store on small_files,
        and the isolated layer pass."""
        kind = self.spec["kind"]
        sink, untraced, _ = self.drain(0)
        self.gate_drain(sink)
        tsink, full, ev_full = self.drain(1, traced="drain-traced")
        self.gate_drain(tsink)
        self.idle(tsink)
        osink, one, _ = self.drain(2, master="local[1]", traced="drain-traced-1")
        self.gate_drain(osink)
        events = trace.read_events(ev_full)
        ids = trace.Ids()
        spans = trace.build_spans(events, ("drain", full.start_ms, full.end_ms), kind, ids)
        metrics = {m: 0.0 for m in PER_LAYER}
        metrics.update(trace.layer_metrics(spans, events, kind, self.nproc))
        metrics["trace.self_time_share"] = trace.accounted(spans) / (full.end_ms - full.start_ms)
        metrics["trace.overhead_share"] = full.wall / untraced.wall - 1
        metrics["spark.speedup_1_to_N"] = one.wall / full.wall
        if kind == "kafka":
            metrics["RetryingObjectStore.retries"] = tsink["retries"]
            metrics["S3ObjectStore.requests_per_put"] = tsink["puts"] / len(self.expected)
        if self.args.workload == "small_files":
            rp, ev_read = self.read("read-traced", tsink["store_root"], traced=True)
            rev = trace.read_events(ev_read)
            rspans = trace.build_spans(rev, ("read-back", rp.start_ms, rp.end_ms), "read", ids)
            metrics.update({k: v for k, v in trace.layer_metrics(rspans, rev, "read", self.nproc).items()
                            if k.startswith("IngestReader.")})
            spans += rspans

        layer_out = self.path("layer-pass.json")
        flags, lp_events = self.traced_flags("layer-pass")
        lp = self.jvm("perfbench.LayerPass",
                      [kind, self.src, self.pub_file, self.priv_file, self._mkdir(self.work, "layer-scratch"),
                       layer_out] + ([self.endpoint] if kind == "kafka" else []),
                      extra_flags=[f for f in flags if f.startswith("-Dperfbench")], log_name="layer-pass")
        with open(layer_out) as f:
            metrics.update(json.load(f))
        spans += trace.build_spans(trace.read_events(lp_events), ("layer pass", lp.start_ms, lp.end_ms), "layer",
                                   ids)
        span_file = os.path.join(self._mkdir(build.build_dir(), "trace"),
                                 f"{self.args.workload}-seed{self.args.seed}.spans.jsonl")
        trace.write_spans(span_file, spans)
        print(f"spans: {os.path.relpath(span_file, build.REPO)}")
        return {k: metrics[k] for k in PER_LAYER}

    def run(self):
        self.make_inputs()
        if self.spec["kind"] == "kafka":
            self.start_endpoint()
        try:
            metrics = self.traced() if self.args.trace else self.measure()
        finally:
            if self.spec["kind"] == "kafka":
                self.stop_endpoint()
        return metrics


def _tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def load_metrics():
    """(per-layer metric names, unit of every metric) from BENCHMARK.json."""
    with open(os.path.join(build.REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    return [m["name"] for m in spec["per_layer"]], units


def fingerprint(bench):
    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"], stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    jars = build.spark_jars()
    spark = next((j[len("spark-core_2.13-"):-4] for j in sorted(os.listdir(jars)) if j.startswith("spark-core_")), "?")
    fs = "?"
    best = -1
    with open("/proc/mounts") as f:
        for line in f:
            dev, mnt, fstype = line.split()[:3]
            if bench.work.startswith(mnt) and len(mnt) > best:
                best, fs = len(mnt), fstype
    return {"nproc": bench.nproc, "jvm": java.stdout.splitlines()[0] if java.stdout else "?", "spark": spark,
            "heap": HEAP, "jvm_flags": " ".join(JVM_FLAGS), "work_fs": fs, "python": platform.python_version()}


PER_LAYER, UNITS = load_metrics()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        bench = Bench(args)
    except (build.BuildError, OSError) as e:
        print(f"perfbench: cannot set up: {e}", file=sys.stderr)
        return 2
    try:
        print("fingerprint " + json.dumps(fingerprint(bench)))
        try:
            metrics = bench.run()
            correct = True
        except GateFailure as e:
            print(f"perfbench: FAILED: {e}", file=sys.stderr)
            metrics, correct = {}, False
        result = {
            "correct": correct,
            "attempted": max(1, bench.attempted),
            "failed": bench.failed if correct else max(1, bench.failed),
            "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
        }
        print(json.dumps(result))
        return 0 if correct else 1
    finally:
        bench.cleanup()


if __name__ == "__main__":
    sys.exit(main())

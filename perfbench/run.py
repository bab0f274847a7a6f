#!/usr/bin/env python3
"""Ingest benchmark for the graft engine: load generator, launcher, record.

    python3 perfbench/run.py --workload ingest_steady --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
harness (perfbench/build.sbt) into .bench_build/; later runs reuse the
build while the sources are unchanged.

This process is the load generator and is separate from the engine JVM
(graft.bench.IngestBench). Every input is derived from --seed; the engine
receives only the lines.

  ingest_steady   open loop: one TCP stream at a fixed offered rate, tens
                  of keys. The engine's four queries each hold one
                  connection to the generator (4 connections in all).
  replay_backlog  30k lines per --seconds of recorded lines over ~50k
                  keys, written to files before timing and drained through
                  LineSources.fileReplay.

The last stdout line is the result object; the full record (host
fingerprint, seed, parameters, checks, every metric) is the line before
it, prefixed "record: ", and is also written under .bench_build/records/.
"""

import argparse
import bisect
import hashlib
import json
import os
import platform
import random
import shutil
import socket
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"

ROUNDS = 3                  # set-ups per run; setup_s is their median
JVM_HEAP = "-Xmx3g"
RUN_DEADLINE_S = 170        # the whole run, build excluded
BUILD_DEADLINE_S = 850

STEADY = dict(rate=2000, keys=40, status_frac=0.05, connections=4)
BACKLOG = dict(lines_per_run_second=30000, keys=50000, status_frac=0.05,
               lines_per_file=25000, files_per_trigger=4, warm_lines=2000)
HIGH, LOW = 80.0, 75.0      # alert hysteresis on the converted reading
LATE_LIMIT_MS = 50.0        # generator p99 lateness above this: run invalid
SETTLE_S = 4.0              # steady: the window opens this long after the engine is ready

SETTINGS = """<das>
  <streams>
    <stream id="gen" type="tcp"><address>127.0.0.1:{port}</address><label>ship</label></stream>
  </streams>
  <paths>
    <path id="ship" delimiter=",">
      <filter type="start">$D</filter>
      <math>i5 = i5 * 1.8 + 32</math>
      <editor type="append">,1</editor>
      <store>
        <text index="1">sid</text>
        <int index="2">seq</int>
        <int index="3">emit_us</int>
        <text index="4">tag</text>
        <real index="5">reading</real>
        <int index="6">qflag</int>
      </store>
    </path>
  </paths>
</das>
"""


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_files():
    files = sorted((ROOT / "src" / "main").rglob("*")) + \
        sorted((BENCH / "src").rglob("*")) + \
        sorted((ROOT / "project").glob("*.*")) + \
        [ROOT / "build.sbt", BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    return [f for f in files if f.is_file()]


def build():
    """Compile engine + harness once per source state; return the JVM
    options (classpath included) and the source hash."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or \
            not (ROOT / "build.sbt").is_file():
        fail("engine sources not found: run from a full checkout of the repository")
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    launch, stamp_file = BUILD / "launch.txt", BUILD / "stamp"
    if not (launch.is_file() and stamp_file.is_file()
            and stamp_file.read_text() == stamp):
        (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
        log = BUILD / "build.log"
        with open(log, "w") as out:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 f"-J-Djava.io.tmpdir={BUILD / 'tmp'}", "writeLaunch"],
                cwd=BENCH, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=BUILD_DEADLINE_S).returncode
        if rc != 0 or not launch.is_file():
            sys.stderr.write(log.read_text()[-4000:])
            fail(f"build failed (rc={rc}), see {log}")
        stamp_file.write_text(stamp)
    cp, *opts = launch.read_text().splitlines()
    opts = [o for o in opts if not o.startswith("-Xmx")]
    return [JVM_HEAP, *opts, "-cp", cp], stamp


# ------------------------------------------------------------ generator

class Lines:
    """Deterministic line series: the seed fixes which lines are status
    lines, the key of each data line (Zipf-like skew) and each key's value
    walk. Expected sink contents are folded in as lines are drawn."""

    def __init__(self, seed, keys, status_frac, expect_dir=None, keep_raw=False):
        self.rng = random.Random(seed)
        self.status_frac = status_frac
        order = list(range(keys))
        self.rng.shuffle(order)
        self.tags = [f"k{order[i]:05d}" for i in range(keys)]
        weights = [1.0 / (i + 1) ** 0.8 for i in range(keys)]
        acc, self.cum = 0.0, []
        for w in weights:
            acc += w
            self.cum.append(acc)
        self.base = [self.rng.uniform(0.0, 30.0) for _ in range(keys)]
        self.cur = list(self.base)
        self.seq = 0
        self.expect_dir = expect_dir
        self.raw = [] if keep_raw else None     # every raw line
        self.rows = None                        # expected Derby rows, streamed out
        if expect_dir is not None:
            expect_dir.mkdir(parents=True, exist_ok=True)
            self.rows = open(expect_dir / "rows.csv", "w")
            self.rows.write("sid,seq,reading\n")
        self.stats = {}  # tag -> [last, count, min, max, sum, rising, cleared, active]

    def next(self, emit_us):
        r = self.rng
        seq = self.seq
        self.seq += 1
        if r.random() < self.status_frac:
            line = f"$S,s0,{seq},{emit_us},status,ok"
            if self.raw is not None:
                self.raw.append(line)
            return line
        k = bisect.bisect_left(self.cum, r.random() * self.cum[-1])
        v = self.cur[k] + 0.1 * (self.base[k] - self.cur[k]) + r.gauss(0.0, 0.8)
        self.cur[k] = v
        text = f"{v:.3f}"
        tag = self.tags[k]
        line = f"$D,s0,{seq},{emit_us},{tag},{text}"
        if self.raw is not None:
            self.raw.append(line)
        x = float(text) * 1.8 + 32
        if self.rows is not None:
            self.rows.write(f"s0,{seq},{x!r}\n")
        s = self.stats.get(tag)
        if s is None:
            s = self.stats[tag] = [x, 0, x, x, 0.0, 0, 0, False]
        s[0] = x
        s[1] += 1
        s[2] = min(s[2], x)
        s[3] = max(s[3], x)
        s[4] += x
        if not s[7] and x >= HIGH:
            s[5] += 1
            s[7] = True
        elif s[7] and x <= LOW:
            s[6] += 1
            s[7] = False
        return line

    def write_expectations(self):
        d = self.expect_dir
        self.rows.close()
        with open(d / "rtvals.csv", "w") as f:
            f.write("key,last,count,min,max,mean,rising,cleared\n")
            for tag, s in sorted(self.stats.items()):
                f.write(f"{tag},{s[0]!r},{s[1]},{s[2]!r},{s[3]!r},{s[4] / s[1]!r},{s[5]},{s[6]}\n")
        if self.raw is not None:
            (d / "lines").mkdir(exist_ok=True)
            (d / "lines" / "lines.txt").write_text("\n".join(self.raw) + "\n")
        (d / "count").write_text(f"{self.seq}\n")


class SteadyGenerator(threading.Thread):
    """Open loop: line i of a round is due at t0 + i/rate, whatever the
    engine does. Each round waits for the engine's connections, then
    sends every due line to all of them (1 ms ticks). The last round is
    the measured one: its window opens SETTLE_S after the engine reports
    ready (the first batches' backlog has drained by then) and lasts
    `seconds`; then it writes the expectations and tells the engine how
    many lines it sent."""

    def __init__(self, seed, seconds, expect_dir):
        super().__init__(daemon=True)
        self.seed, self.seconds, self.expect_dir = seed, seconds, expect_dir
        self.stdin = None   # the engine's stdin, set once it is launched
        self.srv = socket.socket()
        self.srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.srv.bind(("127.0.0.1", 0))
        self.srv.listen(16)
        self.srv.settimeout(1.0)
        self.port = self.srv.getsockname()[1]
        self.round_end = threading.Event()
        self.ready_at = None
        self.stop_all = threading.Event()
        self.error = None
        self.late_ms = []
        self.conns = []

    def run(self):
        try:
            for rnd in range(1, ROUNDS + 1):
                if not self._round(rnd == ROUNDS):
                    return
        except Exception as e:          # surfaced by the main thread
            self.error = e
        finally:
            self.srv.close()

    def _accept(self):
        conns = []
        while len(conns) < STEADY["connections"]:
            if self.stop_all.is_set():
                return None
            try:
                c, _ = self.srv.accept()
            except socket.timeout:
                continue
            c.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            conns.append(c)
        return conns

    def _round(self, measured):
        conns = self.conns = self._accept()
        if conns is None:
            return False
        lines = Lines(self.seed, STEADY["keys"], STEADY["status_frac"],
                      self.expect_dir if measured else None, keep_raw=measured)
        rate = STEADY["rate"]
        t0 = time.time()
        i, first, last = 0, None, None
        try:
            while not self.stop_all.is_set():
                if not measured and self.round_end.is_set():
                    break
                now = time.time()
                due = int((now - t0) * rate) + 1
                if measured and self.ready_at is not None:
                    end = self.ready_at + SETTLE_S + self.seconds
                    due = min(due, int((end - t0) * rate))
                    if i >= due and now >= end:
                        break
                batch, window = [], []
                for j in range(i, due):
                    sched = t0 + j / rate
                    batch.append(lines.next(int(sched * 1e6)))
                    if measured and self.ready_at is not None and \
                            sched >= self.ready_at + SETTLE_S:
                        if first is None:
                            first = j
                        last = j
                        window.append(sched)
                i = max(i, due)
                if batch:
                    data = ("\n".join(batch) + "\n").encode()
                    for c in list(conns):
                        try:
                            c.sendall(data)
                        except OSError:
                            conns.remove(c)     # engine stopped this query
                    sent = time.time()
                    self.late_ms.extend((sent - t) * 1000.0 for t in window)
                time.sleep(0.001)
        finally:
            if not measured:
                for c in conns:
                    c.close()
                self.round_end.clear()
        if measured and not self.stop_all.is_set():
            lines.write_expectations()
            result = dict(lines=lines.seq, first=first, last=last,
                          first_us=int((t0 + first / rate) * 1e6))
            msg = "done " + " ".join(f"{k}={v}" for k, v in result.items())
            self.stdin.write(msg + "\n")
            self.stdin.flush()
        return True

    def close(self):
        self.stop_all.set()
        for c in self.conns or []:
            c.close()


def write_backlog(seed, seconds, work):
    """Recorded lines in files with increasing mtimes (replay order), a
    small warm-up directory for the set-up rounds, and expectations."""
    n = BACKLOG["lines_per_run_second"] * seconds
    lines = Lines(seed, BACKLOG["keys"], BACKLOG["status_frac"], work / "expect")
    replay = work / "replay"
    replay.mkdir()
    per = BACKLOG["lines_per_file"]
    base = time.time() - 86400
    for f in range((n + per - 1) // per):
        p = replay / f"part-{f:05d}.txt"
        p.write_text("\n".join(lines.next(0) for _ in range(min(per, n - f * per))) + "\n")
        os.utime(p, (base + f, base + f))
    lines.write_expectations()
    warm = work / "warm"
    warm.mkdir()
    w = Lines(seed + 1, 100, BACKLOG["status_frac"])
    (warm / "warm.txt").write_text(
        "\n".join(w.next(0) for _ in range(BACKLOG["warm_lines"])) + "\n")
    return replay, warm, n


# --------------------------------------------------------------- record

def fingerprint(stamp, jvm):
    mem_kb = 0
    try:
        for line in open("/proc/meminfo"):
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    except OSError:
        pass
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return dict(nproc=os.cpu_count(), mem_gb=round(mem_kb / 1048576, 1),
                jdk=jvm.get("java"), spark=jvm.get("spark"), git_commit=commit,
                source_sha256=stamp, python=platform.python_version())


def metric_specs(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec["per_layer" if trace else "end_to_end"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest_steady", "replay_backlog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    jvm, stamp = build()
    specs = metric_specs(a.trace)
    work = BUILD / "work" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    deadline = time.time() + RUN_DEADLINE_S
    steady = a.workload == "ingest_steady"
    proc, gen = None, None
    try:
        args = ["--workload", "steady" if steady else "backlog", "--work", str(work),
                "--settings", str(work / "settings.xml"), "--trace", str(a.trace),
                "--rounds", str(ROUNDS), "--high", str(HIGH), "--low", str(LOW),
                "--expect", str(work / "expect")]
        if steady:
            params = dict(STEADY, seconds=a.seconds)
            gen = SteadyGenerator(a.seed, a.seconds, work / "expect")
        else:
            replay, warm, n = write_backlog(a.seed, a.seconds, work)
            params = dict(BACKLOG, seconds=a.seconds, lines=n)
            args += ["--replay", str(replay), "--warm", str(warm),
                     "--files-per-trigger", str(BACKLOG["files_per_trigger"])]
        (work / "settings.xml").write_text(SETTINGS.format(port=gen.port if gen else 0))
        (work / "tmp").mkdir()
        # every file the engine writes stays in the run's work directory
        java = ["java", *jvm, "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
                f"-Dspark.local.dir={work / 'tmp'}",
                f"-Dderby.stream.error.file={work / 'derby.log'}",
                "graft.bench.IngestBench"]
        errlog = open(work / "engine.log", "w")
        proc = subprocess.Popen(java + args, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                stderr=errlog, text=True, cwd=work)
        if gen:
            gen.stdin = proc.stdin
            gen.start()
        watchdog = threading.Timer(max(1.0, deadline - time.time()), proc.kill)
        watchdog.daemon = True
        watchdog.start()
        record = None
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line == "@@round_end":
                gen.round_end.set()
            elif line.startswith("@@ready "):
                gen.ready_at = int(line.split()[1]) / 1000.0
            elif line.startswith("@@record "):
                record = json.loads(line[len("@@record "):])
        rc = proc.wait()
        watchdog.cancel()
        errlog.close()
        if gen:
            gen.close()
            gen.join(5)
        if rc != 0 or record is None:
            sys.stderr.write((work / "engine.log").read_text()[-6000:])
            fail(f"engine exited with rc={rc} without a record")
        if gen and gen.error:
            raise gen.error
    finally:
        if proc and proc.poll() is None:
            proc.kill()
            proc.wait()

    m = record["metrics"]
    late = sorted(gen.late_ms) if gen else []
    m["gen.late_ms"] = late[min(len(late) - 1, int(0.99 * len(late)))] if late else 0.0
    valid = m["gen.late_ms"] <= LATE_LIMIT_MS
    if not valid:
        print(f"perfbench: generator p99 lateness {m['gen.late_ms']:.1f} ms > "
              f"{LATE_LIMIT_MS} ms: run is invalid (load source, not engine)", file=sys.stderr)
    m["traced.ingest_p50_ms"] = m["ingest_p50_ms"]
    m["traced.ingest_lines_per_s"] = m["ingest_lines_per_s"]
    checks = record["checks"]
    missing = [s["name"] for s in specs if s["name"] not in m]
    if missing:
        fail(f"engine did not report {missing}")
    full = dict(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                valid=valid, params=params, host=fingerprint(stamp, record.get("jvm", {})),
                checks=checks, setups_s=record["setups_s"], metrics=m)
    rec_dir = BUILD / "records"
    rec_dir.mkdir(exist_ok=True)
    (rec_dir / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(json.dumps(full, indent=1))
    if a.trace and (work / "trace.json").is_file():
        tdir = BUILD / "traces"
        tdir.mkdir(exist_ok=True)
        shutil.copy(work / "trace.json", tdir / f"{a.workload}-seed{a.seed}.json")
    shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": checks["failed"] == 0,
        "attempted": int(checks["attempted"]),
        "failed": int(checks["failed"]),
        "metrics": {s["name"]: {"value": m[s["name"]], "unit": s["unit"]} for s in specs},
    }
    print("record: " + json.dumps(full), flush=True)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()

"""neosearch_spark serving benchmark.

    python3 perfbench/run.py --workload {search,search_write} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  One run:

1. set-up (``setup_s``): writes a seeded transcript corpus, starts the
   Spark host (``server.py``, its own process), which builds the index
   through ``docids.assign_doc_ids`` + ``IndexBuilder.build`` and serves
   it with ``serve-http``, then sends warm-up reads;
2. the timed window, in rounds until it has lasted S seconds:
   closed-loop HTTP clients in this process, each reader sending a
   fixed number of reads per round (4 readers; on ``search_write`` 3
   readers and 1 writer that makes one add per round, with the readers'
   first read of the round beside it and the rest after it is
   acknowledged and read back);
3. answer checks, outside the timed window (``oracle.py``);
4. with ``--trace 1``, the per-layer numbers from the server's spans and
   Spark's event log (``analyze.py``).

Workloads: ``search`` and ``search_write`` (see WORKLOADS and README.md).

The last line of stdout is the result JSON; the line before it is a
report with the host facts, sample counts, checks and (traced) guards.
Everything the run writes goes under ``.perfbench_work/`` and is
removed at the end.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import workload  # noqa: E402

POOL = 500
K = 10
DRIVER_MEM = "1g"
# workload -> (corpus turns, reader clients, every how many reads one
# is broad (0: none), reads each reader sends per round, how many of
# them go out as the round's add starts); search_write adds one writer
# client.  A fixed number of reads per client and round, instead of
# reading until a deadline, keeps the mix of fast and slow reads in a
# run the same from run to run.
WORKLOADS = {
    "search": (10_000, 4, 5, 3, 0),
    "search_write": (5_000, 3, 0, 5, 1),
}
WARM_READS = 2
ORACLE_SELECTIVE_SAMPLE = 4
READY_TIMEOUT_S = 150
REQUEST_TIMEOUT_S = 60


class MemoryMonitor(threading.Thread):
    """Peak resident memory of one session (the Spark host started with
    ``start_new_session``: driver, JVM, the PySpark daemon and the Python
    workers it forks), sampled every 0.5 s.  Members are selected by
    session id, not process group: the PySpark daemon moves itself and
    its workers into a process group of their own.  A Python process
    counts its proportional set size, so pages that forked Python
    workers share with their parent count once, not once per process.
    The JVM counts its RSS: it shares next to nothing with the others,
    and computing its proportional set size walks its page tables for
    tens of milliseconds with its memory map locked."""

    def __init__(self, sid: int):
        super().__init__(daemon=True)
        self.sid = sid
        self.peak = 0
        self.peak_members: dict[str, int] = {}
        self.stop_evt = threading.Event()
        self.page = os.sysconf("SC_PAGE_SIZE")

    def members(self) -> list[str]:
        out = []
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
                # after the command: state, ppid, pgrp, session, ...
                fields = stat[stat.rindex(")") + 2:].split()
                if int(fields[3]) == self.sid and fields[0] != "Z":
                    out.append(pid)
            except (OSError, ValueError, IndexError):
                continue
        return out

    def resident(self, pid: str) -> int:
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() == "java":
                with open(f"/proc/{pid}/statm") as g:
                    return int(g.read().split()[1]) * self.page
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return 0

    def sample(self) -> tuple[int, dict[str, int]]:
        """Total bytes, and the members counted by command name."""
        total, kinds = 0, {}
        for pid in self.members():
            try:
                total += self.resident(pid)
                with open(f"/proc/{pid}/cmdline") as f:
                    argv = f.read().split("\0")
            except (OSError, ValueError, IndexError):
                continue
            kind = "pyspark.daemon" if "pyspark.daemon" in argv else os.path.basename(argv[0])
            kinds[kind] = kinds.get(kind, 0) + 1
        return total, kinds

    def run(self) -> None:
        while not self.stop_evt.wait(0.5):
            total, kinds = self.sample()
            if total > self.peak:
                self.peak, self.peak_members = total, kinds


def call(port: int, method: str, path: str, body=None) -> tuple[int, dict]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=REQUEST_TIMEOUT_S)
    try:
        data = json.dumps(body).encode() if body is not None else None
        conn.request(method, path, body=data, headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read())
    finally:
        conn.close()


def search(port: int, query: str) -> tuple[bool, list[tuple[int, float]]]:
    try:
        status, body = call(port, "POST", "/idx", {"queries": [query], "k": K})
        rows = body["batch"][0]["results"]
        ok = status == 200 and "error" not in body and len(rows) <= K
        return ok, [(int(r["doc_id"]), float(r["score"])) for r in rows]
    except (OSError, ValueError, KeyError, IndexError, TypeError, http.client.HTTPException):
        return False, []


def closed_loop_rate(reads: list[dict]) -> float:
    """Completed reads per second: each client's reads over the time it
    spent on them, summed over clients.  A closed-loop client is always
    waiting on its one read, so this is its throughput; unlike dividing
    by the window, it charges no client for waiting on the others at the
    end of a round, nor for search_write's readers waiting on the add."""
    busy: dict[int, float] = {}
    count: dict[int, int] = {}
    for r in reads:
        c = r["client"]
        busy[c] = busy.get(c, 0.0) + r["end"] - r["start"]
        count[c] = count.get(c, 0) + 1
    return sum(count[c] / busy[c] for c in count)


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def storage_of(path: str) -> str:
    """Filesystem type holding ``path`` (longest mount-point prefix)."""
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt, fs = parts[1], parts[2]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, kind = mnt, fs
    return f"{kind} ({'tmpfs' if kind == 'tmpfs' else 'disk'})"


def percentile(xs: list[float], p: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, int(round(p / 100.0 * (len(xs) - 1))))]


class Server:
    def __init__(self, work: str, corpus: str, n_turns: int, cores: int, trace: bool):
        env = dict(os.environ)
        env.update({
            "PYTHONPATH": ROOT,
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "TMPDIR": os.path.join(work, "tmp"),
        })
        env.pop("SPARK_GRAFT_LOCAL_DIR", None)
        self.log = open(os.path.join(work, "server.log"), "w")
        cmd = [
            sys.executable, os.path.join(HERE, "server.py"), "--work", work, "--corpus", corpus,
            "--scale", repr(n_turns / workload.REFERENCE_TURNS), "--cores", str(cores),
        ] + (["--trace"] if trace else [])
        self.proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.log, text=True, start_new_session=True,
        )
        self.memory = MemoryMonitor(self.proc.pid)
        self.memory.start()

    def ready(self) -> dict:
        box: list = []
        reader = threading.Thread(target=lambda: box.append(self.proc.stdout.readline()), daemon=True)
        reader.start()
        reader.join(READY_TIMEOUT_S)
        if not box or not box[0].strip():
            raise RuntimeError("the Spark host did not start; see its log above")
        return json.loads(box[0])

    def stop(self, graceful: bool) -> None:
        """Graceful (traced runs): the host stops Spark itself, which
        completes the event log, and writes its spans.  Otherwise the
        session is killed at once: nothing it holds is needed."""
        if graceful:
            try:
                self.proc.stdin.write("stop\n")
                self.proc.stdin.flush()
                self.proc.wait(timeout=120)
            except (OSError, subprocess.TimeoutExpired):
                pass
        # the session outlives its leader while any member (JVM, PySpark
        # daemon, Python worker) is alive: kill until none is left
        deadline = time.time() + 30
        while time.time() < deadline:
            left = self.memory.members()
            if not left:
                break
            for pid in left:
                try:
                    os.kill(int(pid), signal.SIGKILL)
                except ProcessLookupError:
                    pass
            self.proc.poll()
            time.sleep(0.1)
        self.proc.wait()
        self.memory.stop_evt.set()
        self.memory.join()
        self.log.close()


def run(args) -> dict:
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "corpus"):
        os.makedirs(os.path.join(work, d))
    corpus = os.path.join(work, "corpus")
    n_turns, readers, broad_every, per_round, beside = WORKLOADS[args.workload]
    writing = args.workload == "search_write"
    pool = workload.selective_pool(args.seed, POOL)
    classes: dict[str, str] = {q: "selective" for q in pool}

    import pyarrow.parquet as pq

    t_setup = time.time()
    pq.write_table(workload.make_corpus(args.seed, n_turns), os.path.join(corpus, "part-0.parquet"))
    input_bytes = du(corpus)
    server = Server(work, corpus, n_turns, cores, bool(args.trace))
    try:
        info = server.ready()
        t_ready = time.time()
        port = info["port"]
        index_bytes = du(os.path.join(work, "root", info["index"]))
        # warm-up: reads that no client sends, WARM_READS per reader from
        # as many concurrent clients (selective queries outside the pool)
        # and, on search, one broad read beside them, so the timed reads
        # do not pay for the first payload scans, the fresh JVM's first
        # compilations of the read path or starting the scoring UDF's
        # Python workers
        warm = workload.warm_selective_queries(args.seed, pool, readers * WARM_READS)
        lanes = [warm[c::readers] for c in range(readers)]
        if broad_every:
            lanes.append([workload.broad_query(random.Random(f"warm-{args.seed}"))])
        warm_ok: list[bool] = []

        def warm_lane(qs: list[str]) -> None:
            warm_ok.extend(search(port, q)[0] for q in qs)

        lane_threads = [threading.Thread(target=warm_lane, args=(qs,)) for qs in lanes]
        for t in lane_threads:
            t.start()
        for t in lane_threads:
            t.join()
        if not all(warm_ok) or len(warm_ok) != sum(map(len, lanes)):
            raise RuntimeError("warm-up read failed")
        mix = workload.ReadMix(args.seed, readers, pool, broad_every)
        setup_s = time.time() - t_setup

        reads: list[dict] = []
        adds: list[dict] = []
        lock = threading.Lock()
        t0 = time.time()
        t_end = t0 + args.seconds
        # Rounds: each reader sends per_round reads, and on search_write
        # the writer makes one add.  A reader's first `beside` reads go
        # out as the add starts and run beside it; the rest wait for the
        # add to be acknowledged and read back, and read the new index
        # state.  (Readers contending with the whole add slow it by about
        # half, which the benchmark's time budget has no room for.)  A
        # new round starts while the window is shorter than --seconds.
        added = threading.Event()
        if not writing:
            added.set()
        more = [True]

        def end_round() -> None:
            more[0] = time.time() < t_end
            if writing:
                added.clear()

        rounds = threading.Barrier(readers + writing, action=end_round)

        def next_round() -> bool:
            try:
                rounds.wait()
            except threading.BrokenBarrierError:
                return False
            return more[0]

        def reader(client: int) -> None:
            try:
                while True:
                    for j in range(per_round):
                        if j == beside:
                            added.wait()
                        cls, q = mix.next(client)
                        s = time.time()
                        ok, rows = search(port, q)
                        with lock:
                            reads.append({"client": client, "cls": cls, "q": q, "start": s,
                                          "end": time.time(), "ok": ok, "rows": rows})
                    if not next_round():
                        return
            except BaseException:
                rounds.abort()
                raise

        def writer() -> None:
            i = 0
            try:
                while True:
                    doc_id = n_turns + i
                    doc = workload.new_turn(args.seed, i, doc_id)
                    s = time.time()
                    try:
                        status, body = call(port, "POST", f"/idx/{doc_id}", doc)
                        acked = status == 200 and "error" not in body
                    except (OSError, ValueError, http.client.HTTPException):
                        acked = False
                    done = time.time()
                    readback = False
                    if acked:
                        try:
                            status, got = call(port, "GET", f"/idx/{doc_id}")
                            readback = status == 200 and all(
                                got.get(k) == doc[k] for k in ("conv_id", "text", "role")
                            )
                        except (OSError, ValueError, http.client.HTTPException):
                            readback = False
                    with lock:
                        adds.append({"doc_id": doc_id, "text": doc["text"], "start": s, "end": done,
                                     "acked": acked, "readback": readback})
                    added.set()
                    i += 1
                    if not next_round():
                        return
            except BaseException:
                added.set()
                rounds.abort()
                raise

        threads = [threading.Thread(target=reader, args=(c,)) for c in range(readers)]
        if writing:
            threads.append(threading.Thread(target=writer))
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if rounds.broken:
            raise RuntimeError("a client of the timed window failed")
        t_last = time.time()
    finally:
        server.stop(graceful=bool(args.trace))
    t_stopped = time.time()

    # ---- answer checks (untimed)
    from oracle import Oracle, index_signature, same_topk

    for r in reads:
        classes.setdefault(r["q"], r["cls"])
    acked = [a for a in adds if a["acked"]]
    final_t = max((a["end"] for a in acked), default=0.0)
    # reads of the final index state: without a writer every read; on
    # search_write those sent after the last acknowledged add
    checkable = [r for r in reads if r["ok"] and r["start"] > final_t]
    rng = random.Random(f"check-{args.seed}")
    sel = sorted({r["q"] for r in checkable if r["cls"] == "selective"})
    to_check = rng.sample(sel, min(ORACLE_SELECTIVE_SAMPLE, len(sel)))
    to_check += sorted({r["q"] for r in checkable if r["cls"] == "broad"})
    oracle = Oracle(corpus, work, [(a["doc_id"], a["text"]) for a in acked])
    wrong = set()
    for q in to_check:
        want = oracle.topk(q, K + 1)
        got = next(r["rows"] for r in checkable if r["q"] == q)
        if not same_topk(got, want, K):
            wrong.add(q)
    sig_ok = oracle.content_signature() == index_signature(os.path.join(work, "root", "idx"))

    t_checked = time.time()
    failed_reads = [r for r in reads if not r["ok"] or r["q"] in wrong]
    failed_adds = [a for a in adds if not (a["acked"] and a["readback"])]
    attempted = len(reads) + len(adds)
    failed = len(failed_reads) + len(failed_adds)

    lat = [(r["end"] - r["start"]) * 1000.0 for r in reads]
    broad = [(r["end"] - r["start"]) * 1000.0 for r in reads if r["cls"] == "broad"]
    writes = [(a["end"] - a["start"]) * 1000.0 for a in acked]
    e2e = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "build_turns_per_s": {"value": n_turns / info["build_s"], "unit": "turns/s"},
        "index_bytes_per_input_byte": {"value": index_bytes / input_bytes, "unit": "ratio"},
        "query_qps": {"value": closed_loop_rate(reads), "unit": "reads/s"},
        "query_p50_ms": {"value": statistics.median(lat) if lat else 0.0, "unit": "ms"},
        "query_p95_ms": {"value": percentile(lat, 95), "unit": "ms"},
        "peak_rss_mb": {"value": server.memory.peak / 2**20, "unit": "MB"},
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "host": {
            "cores": cores,
            "python": platform.python_version(),
            "spark": info.get("spark_version"),
            "driver_memory": info.get("driver_memory"),
            "spark_scratch_and_index": storage_of(work),
        },
        "settings": {
            "n_turns": n_turns, "span": info["span"],
            "local_score_max_postings": info["local_score_max_postings"],
            "readers": readers, "writer": writing, "broad_every": broad_every,
            "reads_per_round": per_round, "reads_beside_add": beside if writing else 0,
            "warm_reads_per_reader": WARM_READS, "pool": POOL, "k": K,
        },
        "samples": {
            "reads": len(reads), "selective": len(reads) - len(broad), "broad": len(broad),
            "adds_acked": len(acked), "rounds": len(reads) // (readers * per_round),
            "window_s": t_last - t0,
            "read_ms": {c: sorted(round((r["end"] - r["start"]) * 1000.0) for r in reads if r["cls"] == c)
                        for c in ("selective", "broad")},
        },
        "peak_rss_processes": server.memory.peak_members,
        "broad_p50_ms": {"value": statistics.median(broad) if broad else 0.0, "unit": "ms",
                         "samples": len(broad)},
        "write_p50_ms": {"value": statistics.median(writes) if writes else 0.0, "unit": "ms",
                         "samples": len(writes)},
        "error_ratio": {"value": failed / attempted if attempted else 0.0, "unit": "failed/attempted"},
        "checks": {
            "oracle_comparisons": len(to_check), "oracle_mismatches": sorted(wrong),
            "readbacks": len(acked), "readback_failures": sum(1 for a in acked if not a["readback"]),
            "signature_checks": 1, "signature_ok": sig_ok,
        },
        "end_to_end": {k: v["value"] for k, v in e2e.items()},
        "phases_s": {
            "corpus_and_host_ready": t_ready - t_setup, "warm_up": t0 - t_ready,
            "window": t_last - t0, "host_stop": t_stopped - t_last, "checks": t_checked - t_stopped,
        },
    }
    correct = sig_ok and not wrong and failed == 0
    metrics = {k: e2e[k] for k in listed_metrics("end_to_end")}
    if args.trace:
        from analyze import PER_LAYER_UNITS, load_events, per_layer

        with open(os.path.join(work, "spans.json")) as f:
            spans = json.load(f)
        jobs = load_events(os.path.join(work, "eventlog"))
        layer, extra = per_layer(spans, jobs, info["stages"], classes, t0)
        report.update(extra)
        report["layers"] = layer
        correct = correct and all(g["ok"] for g in extra["guards"].values())
        metrics = {k: {"value": layer[k], "unit": PER_LAYER_UNITS[k]} for k in listed_metrics("per_layer")}
    print(json.dumps({"report": report}))
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def listed_metrics(kind: str) -> list[str]:
    """The metric names BENCHMARK.json lists under ``kind``: the result
    line carries exactly these; the report line carries every end-to-end
    number the run computed."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[kind]]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "neosearch_spark", "httpserve.py")):
        print(f"engine sources not found under {ROOT}/neosearch_spark", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    try:
        result = run(args)
    except Exception:
        log = os.path.join(work, "server.log")
        if os.path.exists(log):
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

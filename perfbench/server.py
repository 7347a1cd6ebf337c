"""The benchmark's Spark host: builds the index and serves it over HTTP.

Run by ``run.py`` as its own process (never imported by it):

    python3 perfbench/server.py --work DIR --corpus DIR --scale F \
        --cores N [--trace]

It builds the index under ``DIR/root/idx`` from the corpus through the
public build surface (``docids.assign_doc_ids`` then
``IndexBuilder.build``), starts the ``serve-http`` server
(``httpserve.serve_http``) on an ephemeral port, prints one JSON line
with the port and the build facts, and serves until a line arrives on
stdin.  It then stops the server and Spark and, with ``--trace``, writes
its spans to ``DIR/spans.json``.

With ``--trace`` each layer's public entry point is wrapped in a span
that also sets a Spark job group, so Spark's event log (written
uncompressed under ``DIR/eventlog``) attributes every job to the span
that ran it.  Without it nothing is wrapped and no event log is kept.
"""

from __future__ import annotations

import argparse
import functools
import itertools
import json
import os
import sys
import threading
import time


class Tracer:
    """Spans in memory: name, start, end, parent, attributes.  Entering
    a span sets the calling thread's Spark job group to the span id and
    leaving it restores the enclosing span's group."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def wrap(self, owner, attr: str, name: str, attrs=None, result=None) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            stack = self._local.__dict__.setdefault("stack", [])
            rec = {
                "id": next(self._ids),
                "name": name,
                "parent": stack[-1]["id"] if stack else None,
                "attrs": attrs(*args, **kwargs) if attrs else {},
            }
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", f"span-{rec['id']}")
            stack.append(rec)
            rec["start"] = time.time()
            try:
                out = orig(*args, **kwargs)
                if result:
                    rec["attrs"].update(result(out))
                return out
            finally:
                rec["end"] = time.time()
                stack.pop()
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
                with self._lock:
                    self.spans.append(rec)

        setattr(owner, attr, traced)


def _upsert_counters(out) -> dict:
    buckets = out.get("touched_buckets", 0)
    return {
        "blocks_touched": int(out.get("n_blocks_touched", 0)),
        "buckets_touched": len(buckets) if isinstance(buckets, (list, tuple, set)) else int(buckets),
    }


def install_spans(tracer: Tracer) -> None:
    from neosearch_spark import build, docids, httpserve, maintenance, query

    tracer.wrap(docids, "assign_doc_ids", "docids.assign_doc_ids")
    tracer.wrap(build.IndexBuilder, "build", "build.build")
    tracer.wrap(query.SparkIndex, "__init__", "query.open")
    tracer.wrap(
        query.SparkIndex, "bm25_topk", "query.bm25_topk",
        attrs=lambda self, q, *a, **k: {"query": q},
    )
    tracer.wrap(query.SparkIndex, "idfs", "query.idfs")
    tracer.wrap(maintenance, "upsert_docs", "maintenance.upsert_docs", result=_upsert_counters)
    for verb in ("do_GET", "do_POST"):
        tracer.wrap(
            httpserve._Handler, verb, "httpserve.request",
            attrs=lambda h, verb=verb: {
                "verb": verb[3:],
                "path": h.path,
                "body_bytes": int(h.headers.get("Content-Length") or 0),
            },
        )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--scale", type=float, required=True,
                    help="corpus size / 3M turns: shrinks the span and the local-path threshold")
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    from neosearch_spark import build, docids, httpserve, query
    from neosearch_spark.session import get_spark

    work = args.work
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", cores=args.cores, extra_conf=conf)
    tracer = None
    if args.trace:
        tracer = Tracer(spark.sparkContext)
        install_spans(tracer)
    # the scale model (see workload.REFERENCE_TURNS): the engine's own
    # defaults, shrunk by the corpus's share of 3M turns
    span = max(64, round(build.DEFAULT_SPAN * args.scale))
    local_max = int(query.SparkIndex.LOCAL_SCORE_MAX_POSTINGS * args.scale)
    query.SparkIndex.LOCAL_SCORE_MAX_POSTINGS = local_max

    root = os.path.join(work, "root")
    idx = os.path.join(root, "idx")
    t0 = time.time()
    docs = docids.assign_doc_ids(spark.read.parquet(args.corpus))
    build.IndexBuilder(idx, exact_fields=["role", "tool"], span=span).build(docs)
    build_s = time.time() - t0
    with open(os.path.join(idx, "manifest.json")) as f:
        stages = json.load(f)["stages"]

    srv = httpserve.serve_http(spark, root)
    loop = threading.Thread(target=srv.serve_forever, daemon=True)
    loop.start()
    print(json.dumps({
        "port": srv.server_address[1],
        "index": "idx",
        "span": span,
        "local_score_max_postings": local_max,
        "build_s": build_s,
        "stages": {k: {"duration_sec": v["duration_sec"], "finished_at": v["finished_at"]}
                   for k, v in stages.items()},
        "spark_version": spark.version,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
    }), flush=True)

    sys.stdin.readline()
    srv.shutdown()
    srv.server_close()
    loop.join(timeout=30)
    if tracer is not None:
        with open(os.path.join(work, "spans.json"), "w") as f:
            json.dump(tracer.spans, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

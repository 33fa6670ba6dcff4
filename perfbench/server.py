"""API server process for the ``serve`` workload.

Mirrors ``funnel_rocket_spark.api.main`` at its shipped defaults: a session
from ``session.get_spark(app_name="funnel-rocket-spark-api")`` (FIFO
scheduler, no admission limit), ``api.create_app`` and Flask's threaded
server on 127.0.0.1.

With ``--trace 1`` it records spans around the package functions the
request handlers call: ``QueryEngine`` (expand, plan, run),
``catalog.load_dataset`` (and ``Dataset.load`` on what it returns) and
``catalog.register_dataset`` are swapped in the ``api`` module's namespace
for wrappers from this directory, and each request runs in an
``api.request`` span. A request is traced only when the
client sends ``X-Bench-Trace: 1``; ``X-Bench-Query`` carries its query id.
``GET /_bench/spans`` returns the spans. SIGTERM stops Spark and exits.

    python3 perfbench/server.py --port 5000 --catalog DIR --trace 0
"""

from __future__ import annotations

import argparse
import os
import signal

import common
from tracer import Tracer


def instrument(api, tracer, spark) -> None:
    api.QueryEngine = common.traced_engine(tracer)
    load = api.load_dataset

    def traced_load(*args, **kwargs):
        with tracer.span("catalog.load"):
            ds = load(*args, **kwargs)
        read = ds.load

        def traced_read(session):
            with tracer.span("catalog.read"):
                return read(session)

        ds.load = traced_read
        return ds

    api.load_dataset = traced_load
    api.register_dataset = common.traced_register(tracer, spark,
                                                   api.register_dataset)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--catalog", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    tracer = Tracer(enabled=bool(args.trace))
    spark = common.start_spark(tracer, app_name="funnel-rocket-spark-api")

    def stop(*_):
        common.stop_spark(spark)
        os._exit(0)

    signal.signal(signal.SIGTERM, stop)

    from flask import g, jsonify, request

    from funnel_rocket_spark import api

    if tracer.enabled:
        instrument(api, tracer, spark)
    app = api.create_app(spark=spark, catalog_dir=args.catalog)

    @app.before_request
    def begin():
        tracer.set_active(request.headers.get("X-Bench-Trace") == "1")
        g.bench_span = tracer.begin("api.request",
                                    qid=request.headers.get("X-Bench-Query"))

    @app.teardown_request
    def end(_exc):
        tracer.end(g.pop("bench_span", None))

    app.add_url_rule("/_bench/spans", "bench_spans",
                     lambda: jsonify(tracer.spans))
    app.run(host="127.0.0.1", port=args.port, threaded=True)


if __name__ == "__main__":
    main()

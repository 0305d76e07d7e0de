"""A serving reader process.

    python3 perfbench/serve_proc.py INDEX_DIR SEED MIX STREAM N1 N4 TRACE REF

A fresh Spark-free process answers generated queries over INDEX_DIR
(`workloads.serve_phases`): query stream STREAM of SEED, N1 queries of
`gen.MIXES[MIX]`, from one client (with REF=1, a `host.SpeedRef` pass
before every fifth), then N4 queries of the serving stream 4 from 4 client
threads.  It prints one JSON line: per-query latency and CPU
time, the 4-thread wall and CPU time, its VmRSS and VmHWM after the
1-client phase, its attempted and failed operations, and with TRACE=1 the
serving layer metrics and layer table.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)


def main(argv) -> int:
    import gen
    import workloads as W
    from tracer import Tracer

    idx, seed, mix = argv[0], int(argv[1]), argv[2]
    stream, n1, n4, trace, speed_ref = (int(x) for x in argv[3:8])
    tracer = Tracer(enabled=bool(trace))
    ctx = W.Ctx(seed, 0, bool(trace), os.path.dirname(idx), None, tracer)
    if trace:
        W.instrument_engine(tracer)
    stream1 = gen.query_stream(seed, stream, n1, gen.MIXES[mix])
    stream4 = gen.query_stream(seed, 4, n4, gen.MIXES["serve"]) if n4 else []
    out = W.serve_phases(ctx, idx, [q for _, q in stream1],
                         [q for _, q in stream4], bool(speed_ref))
    out.update(attempted=ctx.attempted, failed=ctx.failed,
               failures=ctx.failures, layers=ctx.layers, records=ctx.records)
    if trace:
        out["layer_table"] = tracer.table(ctx.measure_spans)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

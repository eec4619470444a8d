"""Closed-loop HTTP clients in a process of their own, so that the load
generator does not share the server process's interpreter lock.

    python3 -m perfbench.clients --port P --clients 4 --seconds 15 \\
        --cycle 23 --min-cycles 2 --stmts stmts.json --out results.json

``stmts.json`` is the run's fixed statement list (``[{"sql": ...}, ...]``),
taken round and round. Each of the ``--clients`` threads sends the next
statement of the shared sequence and waits for its answer before taking
another. The window is whole cycles of ``--cycle`` statements, at least
``--min-cycles`` of them: once ``--seconds`` have passed, the clients
finish the cycle under way (or the rest of the minimum) and stop.
Every statement sent is written to ``--out`` with its index, start and end
(``time.perf_counter``, which is system-wide monotonic on Linux) and the
parsed answer.
"""

from __future__ import annotations

import argparse
import itertools
import json
import threading
import time

from perfbench.harness import post_sql


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--clients", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--cycle", type=int, required=True)
    ap.add_argument("--min-cycles", type=int, default=1)
    ap.add_argument("--stmts", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(args.stmts) as f:
        stmts = json.load(f)

    lock = threading.Lock()
    seq = itertools.count()
    done: list[dict] = []
    start = time.perf_counter()
    deadline = start + args.seconds
    # statements from this index on are not sent; set at the deadline
    stop = [None]

    def client() -> None:
        while True:
            with lock:
                i = next(seq)
                if stop[0] is None and time.perf_counter() >= deadline:
                    stop[0] = max(args.min_cycles, -(-i // args.cycle)) * args.cycle
                if stop[0] is not None and i >= stop[0]:
                    return
            t = time.perf_counter()
            try:
                _dt, ans = post_sql(
                    args.host, args.port, stmts[i % len(stmts)]["sql"], i + 1
                )
            except Exception as e:  # counted as a failed statement
                ans = {"type": "error", "error_message": f"client: {e}"}
            end = time.perf_counter()
            with lock:
                done.append({"i": i, "start": t, "end": end, "answer": ans})

    threads = [threading.Thread(target=client) for _ in range(args.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    with open(args.out, "w") as f:
        json.dump({"start": start, "done": done}, f)


if __name__ == "__main__":
    main()

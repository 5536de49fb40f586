"""Time every declared query in isolation with the noop sink
(guide §1.4: eager full-column compute, no sink cost, visible in SQL tab),
by the same protocol as every ``bench.py`` series (``bench._best_of``).

Run: ``python tools/time_queries.py [sf_dir] [query ...]``
Prints one line per query: ``<name> <median>s (runs: a, b, c)`` and a final
JSON line for machine consumption.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2:])

    from bench import _best_of
    from queries import REGISTRY
    from sed_binning_spark.session import get_spark

    spark = get_spark(app_name="time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    results: dict[str, float] = {}
    allruns: dict[str, dict] = {}
    for name, q in REGISTRY.items():
        if only and name not in only:
            continue
        sc.setJobDescription(name)
        try:
            rec = _best_of(
                lambda: q.build(spark, sf_dir).write.format("noop").mode("overwrite").save(),
            )
        except Exception as exc:
            print(f"{name} ERROR {exc!r}")
            results[name] = -1.0
            continue
        finally:
            sc.setJobDescription(None)
        results[name] = rec["value"]
        allruns[name] = rec
        print(f"{name} {rec['value']:.3f}s (runs: {', '.join(f'{t:.3f}' for t in rec['runs'])}"
              f"{'' if rec['converged'] else '; not converged'})", flush=True)
    print(json.dumps({"sf": sf_dir, "best": results, "runs": allruns}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

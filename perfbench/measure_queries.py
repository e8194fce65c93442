#!/usr/bin/env python3
"""Record the per-query times that query_mix draws its sample from.

    python3 perfbench/measure_queries.py

Run from the root of a checkout.  One engine session (the benchmark's,
`nproc` task slots) runs every gate query (`graft.SparkEntry.queries`) over
perfbench/data/sf0.01: a cold pass that writes each result for the oracle
check, then one warm pass timed the way query_mix times a query (a `noop`
write).  Writes perfbench/query_times.json: the host, and per query its
cold and warm milliseconds, the time of its result check, whether it has a
DuckDB oracle, and whether its result passed the check.  Takes about ten
minutes on a 4-core host.
"""
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import oracle   # noqa: E402
import run      # noqa: E402


def main():
    classes = run.build()
    wd = os.path.join(run.RUNS, "measure-queries")
    shutil.rmtree(wd, ignore_errors=True)
    os.makedirs(wd)
    env = run.Env(classes, wd)
    sf = os.path.join(HERE, "data", "sf0.01")
    try:
        agent = run.Agent(env, "local[%d]" % run.NPROC, "3g")
        agent.wait("ready", timeout=run.TIMEOUT_S)
        names = agent.call("query_names")["names"]
        t = time.time()
        chk = agent.call("queries", timeout=1800, mode="check", names=names, sf_dir=sf,
                         out=os.path.join(wd, "results"))
        cold_s = time.time() - t
        t = time.time()
        warm = agent.call("queries", timeout=1800, mode="timed", names=names, sf_dir=sf,
                          passes=1)
        warm_s = time.time() - t
        agent.close()
    finally:
        env.stop_all()
    verdicts, check_ms = {}, {}
    for r in chk["records"]:
        t = time.time()
        verdicts.update(oracle.check_results(os.path.join(wd, "results"), sf, [r], chk["oracle"]))
        check_ms[r["name"]] = (time.time() - t) * 1000.0
    cold = {r["name"]: r["ms"] for r in chk["records"]}
    queries = {r["name"]: {"warm_ms": round(r["ms"], 1), "cold_ms": round(cold[r["name"]], 1),
                           "check_ms": round(check_ms[r["name"]], 1),
                           "oracle": r["name"] in chk["oracle"],
                           "ok": not r["error"] and verdicts[r["name"]]["ok"]}
               for r in warm["records"]}
    facts = run.host_facts("measure_queries", 0, 0)
    out = {"host": {"nproc": facts["nproc"], "mem_total_mb": facts["mem_total_mb"],
                    "engine_task_slots": facts["engine_task_slots"], "scale": "sf0.01"},
           "cold_pass_s": round(cold_s, 1), "warm_pass_s": round(warm_s, 1), "queries": queries}
    with open(os.path.join(HERE, "query_times.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(wd, ignore_errors=True)
    bad = sorted(n for n, q in queries.items() if not q["ok"])
    print("%d queries, cold pass %.1f s, warm pass %.1f s, failing: %s"
          % (len(queries), cold_s, warm_s, bad or "none"))


if __name__ == "__main__":
    main()

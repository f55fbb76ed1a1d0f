"""The benchmark's own self-test: `python3 etlbench/run.py --selftest`.

Tiny runs, a few minutes in all:
  1. two traced hourly runs with the same seed give the same deterministic
     counts (jobs per tick, compaction file counts, result rows), and every
     tick, traced or plain, matches the oracle;
  2. a deliberately corrupted result row is reported as a failed op;
  3. two traced registry runs give the same construction-time job counts
     per key, memo-building keys included, and every key passes its check.
"""

TINY_TICKS = {"history_hours": "1", "events_per_hour": "400", "ops": "4"}
TINY_KEYS = "q_merge_upsert,q_dsir_select,q_having"


def selftest(run_once):
    failed = []

    def expect(ok, what):
        print(f"{'PASS' if ok else 'FAIL'}  {what}", flush=True)
        if not ok:
            failed.append(what)

    a = run_once("hourly_tick", 7, 10, True, extra=TINY_TICKS,
                 work_name="selftest-a")
    b = run_once("hourly_tick", 7, 10, True, extra=TINY_TICKS,
                 work_name="selftest-b")
    expect(a["failed"] == 0 and b["failed"] == 0,
           "traced and plain ticks all match the oracle "
           f"({a['attempted']} + {b['attempted']} ticks)")
    keys = ("op_jobs", "files_before", "files_after", "result_rows")
    ca = {k: a["counts"][k] for k in keys}
    cb = {k: b["counts"][k] for k in keys}
    expect(ca == cb and ca["op_jobs"], f"deterministic tick counts repeat: {ca}")

    c = run_once("hourly_tick", 7, 10, False,
                 extra=dict(TINY_TICKS, corrupt="1", ops="2"),
                 work_name="selftest-c")
    expect(c["failed"] == 1 and "results/commits" in " ".join(c["failures"]),
           f"a corrupted result row is a failed op: {c['failures'][:1]}")

    runs = [run_once("registry", 7, 10, True, extra={"keys": TINY_KEYS},
                     work_name=f"selftest-r{i}", sf=0.001)
            for i in (1, 2)]
    jobs = [{k["key"]: k["construct_jobs"] for k in r["keys"]} for r in runs]
    expect(all(r["failed"] == 0 for r in runs), "registry keys pass their checks")
    expect(jobs[0] == jobs[1], f"construction jobs per key repeat: {jobs[0]}")
    return 1 if failed else 0

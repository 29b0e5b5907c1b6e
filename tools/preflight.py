#!/usr/bin/env python3
"""End-of-round correctness pre-flight, automated — the ritual
ARCHITECTURE.md prescribes, run as one command:

  python3 tools/preflight.py [--sfs sf0.001,sf0.01] [--cpus 8]
      [--testdata /root/testdata] [--budget-s 120]

For each scale factor it runs the full `graft.Verify` dump, the DuckDB
oracle compare (tools/compare_local.py), and the output-type audit
(tools/audit_output_types.py), then prints one summary paragraph in the
ARCHITECTURE.md pre-flight format. Exit 0 only if EVERY sf reads
all-pass, the oracle stays inside the runtime budget, and the audit
reports zero DECIMAL/FLOAT32 columns. Dual-SF is the default because a
different fixture slice exercises different numeric corners (the q138
rounding-boundary catch).

It also lists the `graft_*` entries of the temp dir before and after each
Verify run: the graded replay harness (`CorpusStream.replayGraded`) is
the only program code that makes such a temp tree and deletes it in a
`finally`, so a clean Verify leaves none. Any new entry is printed in
the summary and fails the pre-flight.

Serializes everything through one sbt at a time — never run it while
another sbt task is active (shared target/ dir).
"""
import sys, os, re, json, subprocess, tempfile, shutil


def sh(cmd, env=None):
    e = dict(os.environ)
    if env:
        e.update(env)
    r = subprocess.run(cmd, capture_output=True, text=True, env=e,
                       cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    return r.returncode, r.stdout + r.stderr


# The forked Verify JVM's java.io.tmpdir: build.sbt sets none, so it is
# the JDK default on Linux. Python's tempfile.gettempdir() would follow
# TMPDIR, which the JVM ignores.
JVM_TMPDIR = "/tmp"


def graft_temp_entries():
    return {e for e in os.listdir(JVM_TMPDIR) if e.startswith("graft_")}


def main():
    args = sys.argv[1:]

    def opt(name, default):
        if name in args:
            i = args.index(name)
            args.pop(i)
            if i >= len(args) or args[i].startswith("--"):
                print(f"{name} requires a value", file=sys.stderr)
                sys.exit(1)
            return args.pop(i)
        return default

    sfs = opt("--sfs", "sf0.001,sf0.01").split(",")
    cpus = opt("--cpus", "8")
    testdata = opt("--testdata", "/root/testdata")
    budget = float(opt("--budget-s", "120"))
    tools = os.path.dirname(os.path.abspath(__file__))

    results, ok, leaked = [], True, []
    for sf in sfs:
        sfdir = os.path.join(testdata, sf)
        out = tempfile.mkdtemp(prefix=f"preflight_{sf}_")
        try:
            before = graft_temp_entries()
            code, log = sh(["sbt", "-batch",
                            f"runMain graft.Verify {sfdir} {out}"],
                           env={"SPARK_GRAFT_CPUS": cpus})
            new = sorted(graft_temp_entries() - before)
            if new:
                print(f"{sf}: Verify left {len(new)} graft_* temp "
                      f"entries: {new}  <-- PRE-FLIGHT FAILED")
                leaked += [f"{sf}:{e}" for e in new]
                ok = False
            if code != 0:
                print(f"{sf}: Verify FAILED\n{log[-2000:]}")
                ok = False
                continue
            failed_dumps = re.findall(r"\[verify\] (\S+) failed", log)
            if failed_dumps:
                print(f"{sf}: query dumps failed: {failed_dumps}")
                ok = False
            cmp_code, log = sh([sys.executable,
                                os.path.join(tools, "compare_local.py"), sfdir, out])
            m = re.search(r"== (\d+) pass, (\d+) fail", log)
            rt = re.search(r"oracle runtime: ([0-9.]+)s total", log)
            npass, nfail = (int(m.group(1)), int(m.group(2))) if m else (0, -1)
            # a missing/reformatted runtime line is a FAILURE, not a pass:
            # defaulting secs to -1.0 would satisfy `secs <= budget`
            # vacuously and silently skip the runtime-budget gate
            if rt is None:
                print(f"{sf}: oracle runtime line MISSING from "
                      "compare_local output — runtime-budget gate "
                      "cannot be checked, failing loudly")
            secs = float(rt.group(1)) if rt else float("inf")
            # any line carrying FAIL (incl. compare_local's per-query
            # 'BUDGET FAIL qNNN' lines), not only line-initial FAILs
            fails = [l for l in log.splitlines() if "FAIL" in l]
            code_a, log_a = sh([sys.executable,
                                os.path.join(tools, "audit_output_types.py"), out])
            audit_ok = code_a == 0 and "0 DECIMAL/FLOAT32" in log_a
            # compare_local exits nonzero on ANY failure class it knows
            # about (value mismatch, per-query or total oracle budget) —
            # trust its verdict, don't re-derive it from parsed fields
            sf_ok = cmp_code == 0 and nfail == 0 and npass > 0 and \
                secs <= budget and audit_ok and not failed_dumps
            ok = ok and sf_ok
            results.append((sf, npass, nfail, secs, audit_ok))
            print(f"{sf}: {npass} pass, {nfail} fail, oracle {secs:.1f}s "
                  f"(budget {budget:.0f}s), audit "
                  f"{'clean' if audit_ok else 'DIRTY'}"
                  + ("" if sf_ok else "  <-- PRE-FLIGHT FAILED"))
            for l in fails[:20]:
                print(f"  {l}")
        finally:
            shutil.rmtree(out, ignore_errors=True)

    if leaked:
        print(f"\ntemp-dir leak: Verify left {len(leaked)} graft_* "
              f"entries in {JVM_TMPDIR}: {', '.join(leaked)}")
    if results and ok:
        parts = " / ".join(f"{r[3]:.1f} s at {r[0]}" for r in results)
        print(f"\nARCHITECTURE.md paragraph:\n"
              f"pre-flight at final HEAD: {results[0][1]}/{results[0][1]} "
              f"pass at {'BOTH SFs' if len(results) == 2 else 'all SFs'} — "
              f"{parts} DuckDB total (budget {budget:.0f} s); output-type "
              f"audit 0 DECIMAL / 0 FLOAT32; Verify left no graft_* temp "
              f"entries.")
    sys.exit(0 if ok and results else 1)


if __name__ == "__main__":
    main()

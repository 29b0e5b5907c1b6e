#!/usr/bin/env python3
"""Count the operating-system processes a JVM started, from a JFR recording.

Reads the `jdk.ProcessStart` events of RECORDING.jfr (through
`jfr print --json`) and prints how many there were, counted by command
(the basename of the program, e.g. `chmod`), and, with `--root DIR`, by
command and by the first two path components under DIR of the first
argument that lies under DIR (`-` when none does).

    python3 tools/jfr_procs.py RECORDING.jfr [--root DIR]

`jdk.ProcessStart` is on in JFR's default settings. To record a
benchmark run without changing it, pass the recorder through the
environment, which perfbench/run.py hands to the JVM it starts:

    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/corpus.jfr \\
      python3 perfbench/run.py --workload corpus --seed 3 --seconds 10 --trace 0
    python3 tools/jfr_procs.py /tmp/corpus.jfr \\
      --root .bench_build/runs/corpus-3-t0
"""
import argparse
import collections
import json
import os
import shutil
import subprocess
import sys


def process_starts(recording):
    """The `command` strings of every jdk.ProcessStart event, in order."""
    jfr = shutil.which("jfr") or os.path.join(
        os.environ.get("JAVA_HOME", ""), "bin", "jfr")
    out = subprocess.run([jfr, "print", "--json", "--events", "jdk.ProcessStart",
                          recording], check=True, capture_output=True, text=True)
    events = json.loads(out.stdout)["recording"]["events"]
    return [e["values"]["command"] or "" for e in events]


def under(arg, root):
    """The first two path components of `arg` below `root`, else None."""
    path = arg[len("file:"):] if arg.startswith("file:") else arg
    if not path.startswith("/"):
        return None
    rel = os.path.relpath(os.path.normpath(path), root)
    if rel == "." or rel.startswith(".."):
        return None
    return "/".join(rel.split(os.sep)[:2])


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--root", help="group the starts by their path under this directory")
    args = ap.parse_args(argv)
    commands = process_starts(args.recording)
    by_cmd = collections.Counter()
    by_path = collections.Counter()
    root = os.path.abspath(args.root) if args.root else None
    for c in commands:
        words = c.split()
        name = os.path.basename(words[0]) if words else "?"
        by_cmd[name] += 1
        if root:
            where = next(filter(None, (under(w, root) for w in words[1:])), "-")
            by_path[(name, where)] += 1
    print(f"process starts: {len(commands)}")
    print("by command:")
    for name, n in by_cmd.most_common():
        print(f"  {n:6d}  {name}")
    if root:
        print(f"by command and path under {root}:")
        for (name, where), n in by_path.most_common():
            print(f"  {n:6d}  {name:10s} {where}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Record the stored output digests and confirm them against the DuckDB oracle.

Usage (from the root of a checkout): python3 graftbench/confirm_digests.py [--record]

1. With --record, run every query batch_mix times (twice, to prove
   the output is deterministic) and write graftbench/digests.tsv.
2. Dump the same queries with graft.Verify on the benchmark's input tables.
3. Compare the dumps with DuckDB through scripts/check_oracle.py, restricted
   to these queries.
4. Digest each dump and require it to equal the stored digest, so every
   stored digest is the digest of an output DuckDB agreed with.

Exits non-zero if any step fails.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

DIGESTS = os.path.join(HERE, "digests.tsv")


def java(cp, main, args, scratch, env=None):
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    out = subprocess.run(run.java_cmd(cp, main, args, scratch), cwd=scratch,
                         env=dict(os.environ, **(env or {})),
                         stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        run.die(f"{main} failed", 1)
    for line in out.stderr.splitlines():
        if "[graftbench]" in line or "[verify]" in line:
            print(line, file=sys.stderr)
    return out.stdout


def parse(text):
    return dict(l.split("\t") for l in text.splitlines() if "\t" in l and not l.startswith("#"))


def main():
    cp = run.build()
    data = run.tables()
    work = os.path.join(run.BUILD, "confirm")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if "--record" in sys.argv:
        got = java(cp, "graftbench.Main", ["--workload", "record_digests", "--data", data,
                                           "--scratch", os.path.join(work, "record")],
                   os.path.join(work, "record"))
        with open(DIGESTS, "w") as fh:
            fh.write(f"# query\trows:sum of row hashes, input tables of gen_tables.py "
                     f"at the sf{run.gen_tables().SCALE} row counts\n" + got)
    with open(DIGESTS) as fh:
        stored = parse(fh.read())
    names = sorted(stored)
    verify = os.path.join(work, "verify")
    java(cp, "graft.Verify", [data, verify], os.path.join(work, "vscratch"),
         env={"SPARK_GRAFT_ONLY": ",".join(names), "SPARK_GRAFT_CPUS": str(os.cpu_count())})
    oracle_file = os.path.join(verify, "oracle_sql.json")
    with open(oracle_file) as fh:
        oracle = json.load(fh)
    with open(oracle_file, "w") as fh:
        json.dump({k: v for k, v in oracle.items() if k in stored}, fh)
    check = subprocess.run([sys.executable, os.path.join(run.ROOT, "scripts", "check_oracle.py"),
                            data, verify], stdout=subprocess.PIPE, text=True)
    print(check.stdout)
    dumped = parse(java(cp, "graftbench.Main", ["--workload", "digest_dumps", "--data", verify,
                                                "--scratch", os.path.join(work, "dscratch")],
                        os.path.join(work, "dscratch")))
    bad = [q for q in names if dumped.get(q) != stored[q]]
    for q in bad:
        print(f"✗ {q}: stored {stored[q]}, Verify dump {dumped.get(q)}")
    print(f"{len(names) - len(bad)}/{len(names)} stored digests equal their Verify dump's; "
          f"{sum(q in oracle for q in names)} of those queries have a DuckDB oracle")
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(1 if bad or check.returncode != 0 else 0)


if __name__ == "__main__":
    main()

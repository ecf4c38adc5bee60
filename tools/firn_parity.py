#!/usr/bin/env python3
"""Byte-for-byte parity of the firn CLI's products between a git ref and
the working tree.

    python3 tools/firn_parity.py <ref> --seed N [--seed M ...]

Each side is compiled by its own ``perfbench/build.py``: the ref from a
temporary checkout of that commit (``git archive``, so nothing is
registered in the repository), the working tree in place. For each seed,
``perfbench/firn.py`` writes the benchmark's seeded station archive to a
temporary directory (``$TMPDIR``, default ``/tmp``); both builds run
``graft.Cli l1`` and then ``l2`` on it, one JVM per call, and the
Level-1 CSV, the Level-2 CSV and the Level-2 NetCDF are compared with
``cmp``. Then the working tree's benchmark harness (``perfbench.Harness
firn``) runs the same calls in one JVM, a cold pass and
``perfbench/run.py``'s warm passes, and every pass's products are
compared with the ref's per-JVM products: repeated calls in one session
must write what a fresh JVM writes. Prints one line per product, seed
and run; exits 1 on any difference, 2 if a side fails to build or run.
"""
import argparse
import glob
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
sys.dont_write_bytecode = True

import firn  # noqa: E402
import run as bench  # noqa: E402  (the benchmark's JVM options and archive size)


def build(root):
    """Classpath of the tree at ``root``, compiled by its own build.py."""
    p = subprocess.run([sys.executable, os.path.join(root, "perfbench", "build.py")],
                       cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if p.returncode != 0:
        raise RuntimeError(f"build of {root} failed:\n{p.stdout[-3000:]}")
    return p.stdout.strip().splitlines()[-1]


def java(cp, args, work):
    """Runs one JVM of ``cp`` with the benchmark's options and cores."""
    tmp = os.path.join(work, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(bench.CORES),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    cmd = ["java"] + bench.JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp] + args
    p = subprocess.run(cmd, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(args)} failed:\n{p.stdout[-3000:]}")


def outputs(out, site):
    """The Level-1 and Level-2 CSV directories of ``site`` under ``out``."""
    return (os.path.join(out, "level-1", f"{site}.csv"),
            os.path.join(out, "level-2", f"{site}.csv"))


def found(out, site):
    """{product: file} of ``site`` under ``out``."""
    def part(d):
        parts = glob.glob(os.path.join(d, "part-*"))
        if len(parts) != 1:
            raise RuntimeError(f"{d}: expected one part file, found {len(parts)}")
        return parts[0]
    l1, l2 = outputs(out, site)
    return {"l1.csv": part(l1), "l2.csv": part(l2),
            "l2.nc": l2[:-len(".csv")] + ".nc"}


def products(cp, data_root, out, site):
    """Runs l1 and l2 for ``site``, one JVM each; returns {product: file}."""
    l1, l2 = outputs(out, site)
    java(cp, ["graft.Cli", "l1", site, "-data_root", data_root, "-outfile", l1], out)
    java(cp, ["graft.Cli", "l2", site, "-data_root", data_root, "-l1file", l1,
              "-outfile", l2], out)
    return found(out, site)


def one_jvm(cp, data_root, out, sites):
    """The benchmark harness's firn run: l1 and l2 per site for a cold
    pass and ``FIRN_WARM`` warm passes in one JVM; returns
    {pass: {site: {product: file}}}."""
    java(cp, ["perfbench.Harness", "firn", os.path.join(out, "spans.jsonl"), "0",
              str(bench.FIRN_WARM), data_root, out, ",".join(sites)], out)
    return {p: {site: found(os.path.join(out, f"p{p}"), site) for site in sites}
            for p in range(bench.FIRN_WARM + 1)}


def compare(label, ref, got):
    """``cmp`` of each product in ``got`` with the same product in
    ``ref``, one printed line each; True if all are identical."""
    ok = True
    for name, ref_file in ref.items():
        same = subprocess.run(["cmp", "-s", ref_file, got[name]]).returncode == 0
        ok &= same
        print(f"{label} {name}: {'identical' if same else 'DIFFERS'}", flush=True)
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("ref", help="git ref to compare the working tree with")
    ap.add_argument("--seed", type=int, action="append", required=True)
    a = ap.parse_args()
    work = tempfile.mkdtemp(prefix="firn_parity.")
    try:
        ref_root = os.path.join(work, "ref")
        os.makedirs(ref_root)
        archive = subprocess.run(["git", "-C", ROOT, "archive", a.ref],
                                 stdout=subprocess.PIPE, check=True).stdout
        subprocess.run(["tar", "-x", "-C", ref_root], input=archive, check=True)
        sides = {"ref": build(ref_root), "tree": build(ROOT)}
        differ = False
        for seed in a.seed:
            data_root = os.path.join(work, f"seed{seed}", "in")
            firn.make_archive(data_root, seed, bench.FIRN_SITES, bench.FIRN_SCANS,
                              bench.FIRN_BALES)
            ref = {}
            for site in bench.FIRN_SITES:
                got = {side: products(cp, data_root,
                                      os.path.join(work, f"seed{seed}", side), site)
                       for side, cp in sides.items()}
                ref[site] = got["ref"]
                differ |= not compare(f"seed {seed} {site}", got["ref"], got["tree"])
            passes = one_jvm(sides["tree"], data_root,
                             os.path.join(work, f"seed{seed}", "one_jvm"),
                             bench.FIRN_SITES)
            for p, by_site in passes.items():
                for site, files in by_site.items():
                    differ |= not compare(f"seed {seed} {site} one JVM pass {p}",
                                          ref[site], files)
        return 1 if differ else 0
    except (RuntimeError, subprocess.CalledProcessError) as e:
        print(f"firn_parity: {e}", file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

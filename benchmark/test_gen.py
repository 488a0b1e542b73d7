#!/usr/bin/env python3
"""Test of the seeded generator: the same (workload, seed) gives
byte-identical files, and a different seed gives different ones.

Run from the root of a graft checkout: python3 benchmark/test_gen.py
"""
import filecmp
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


def main():
    with tempfile.TemporaryDirectory(dir=".") as tmp:
        for workload in gen.SPECS:
            a, b, c = (os.path.join(tmp, f"{workload}-{x}")
                       for x in ("a", "b", "c"))
            gen.generate(workload, 7, a)
            gen.generate(workload, 7, b)
            gen.generate(workload, 8, c)
            names = files(a)
            assert names == files(b) == files(c), workload
            _, diff, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            assert not diff and not errors, (workload, diff, errors)
            same_c, _, _ = filecmp.cmpfiles(a, c, names, shallow=False)
            data = [n for n in names if n.endswith(".parquet") and
                    "region" not in n and "nation" not in n]
            differ = set(data) & set(same_c)
            assert not differ, (workload, "seed 8 repeats seed 7", differ)
            print(f"ok {workload}: {len(names)} files identical for seed 7, "
                  f"{len(data)} seeded tables differ for seed 8")


if __name__ == "__main__":
    main()

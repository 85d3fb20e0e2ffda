"""Knob guard: the library reads exactly this set of environment
variables.  A new knob must be added here on purpose; a knob whose
reason to exist was measured away must be deleted, not left behind."""

import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "metasra_pipeline_spark")

EXPECTED = {
    "SPARK_GRAFT_CPUS", "SPARK_SHUFFLE_PARTITIONS", "SPARK_DRIVER_MEM",
    "SPARK_GRAFT_FAULT_DOC", "SPARK_GRAFT_FAULT_TOKEN",
}

_READ = re.compile(
    r"""(?:environ\.get|environ\.setdefault|getenv)\(\s*["']([^"']+)["']"""
    r"""|environ\[\s*["']([^"']+)["']\s*\]""")


def test_library_env_reads_are_the_expected_set():
    found = set()
    n_sites = 0
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            with open(os.path.join(root, fn), encoding="utf-8") as f:
                src = f.read()
            # every environ/getenv mention must be a literal-name read the
            # pattern understands — a computed name would dodge the guard
            n_sites += len(re.findall(r"environ\b|getenv\b", src))
            found |= {a or b for a, b in _READ.findall(src)}
    assert found == EXPECTED
    assert n_sites == len(EXPECTED)

"""Every top-level sketchlib def is reached from an entry point (catalog,
benchmarks, CLI, oracle gate) or kept on the allowlist with a reason."""

import os

from tools.reachability import REPO, unreached


def test_unreached_defs_equal_allowlist():
    with open(os.path.join(REPO, "tools", "reachability_allowlist.txt")) as f:
        allow = sorted(line.split("#")[0].strip() for line in f
                       if line.split("#")[0].strip())
    assert unreached() == allow

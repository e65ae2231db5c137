"""Every top-level sketchlib def is reached from an entry point (catalog,
benchmarks, CLI, oracle gate), and every statement of the media codecs
runs under the media catalog entry, or is kept on an allowlist with a
reason."""

import os

from tools.reachability import REPO, media_trace, unreached


def _allowlist(name: str) -> list[str]:
    """Sorted entries of ``tools/<name>``; each line must give a reason
    after "  # "."""
    entries = []
    with open(os.path.join(REPO, "tools", name)) as f:
        for line in f:
            if line.strip() and not line.startswith("#"):
                entry, sep, reason = line.rstrip("\n").rpartition("  # ")
                assert sep and entry.strip() and reason.strip(), line
                entries.append(entry.strip())
    return sorted(entries)


def test_unreached_defs_equal_allowlist():
    assert unreached() == _allowlist("reachability_allowlist.txt")


def test_unexecuted_media_statements_equal_allowlist(spark):
    assert media_trace(spark) == _allowlist("trace_allowlist.txt")

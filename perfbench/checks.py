"""Output checks of the benchmark. None of them is timed.

- `digest`: the canonical hash of a pipeline histogram (rows of
  linenumber, cluster, signal, patterns_checksum, cnt).
- `oracle_failures`: runs the repository's DuckDB oracle compare
  (tools/check.py, exact canonical compare) over a directory of parquet
  results and returns the failing queries.
"""
import hashlib
import json
import pathlib
import subprocess
import sys


def digest(rows) -> str:
    canon = sorted(json.dumps(list(r), separators=(",", ":")) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


def digest_failures(passes, expected) -> list:
    """One message per pass whose histogram differs from the expected
    digest `{"sha256": ..., "rows": ...}`."""
    out = []
    for i, rows in enumerate(passes):
        got = digest(rows)
        if got != expected["sha256"] or len(rows) != expected["rows"]:
            out.append(f"pass {i}: digest {got[:12]} ({len(rows)} rows) != "
                       f"expected {expected['sha256'][:12]} ({expected['rows']} rows)")
    return out


def oracle_failures(root: pathlib.Path, data_dir: pathlib.Path, dumps: pathlib.Path) -> list:
    """Runs tools/check.py and returns its FAIL lines (empty when all pass)."""
    r = subprocess.run([sys.executable, str(root / "tools" / "check.py"), str(data_dir), str(dumps)],
                       capture_output=True, text=True)
    fails = [l.strip()[len("FAIL "):] for l in r.stdout.splitlines() if l.strip().startswith("FAIL ")]
    if r.returncode != 0 and not fails:
        fails.append(f"tools/check.py exited {r.returncode}: {r.stderr.strip()[-300:]}")
    return fails

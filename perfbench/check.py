"""Output check for one run: every output of the check pass is compared
with its DuckDB oracle (the engine's `SparkEntry.oracleSql`, compared the
way `tools/check_oracle.py` compares), and the outputs that have no oracle
(the k-means pipeline's silhouettes and centers, `q_best_k`, the cluster
assignments) with the digests committed in expected_digests.json."""
import contextlib
import hashlib
import io
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "expected_digests.json")


def digest_key(sf, cpus):
    return f"sf{sf}-cpus{cpus}"


def committed(key):
    """The committed digests for a digest key, or None when there are none."""
    with open(DIGESTS) as f:
        return json.load(f).get(key)


class CachedOracle:
    """The DuckDB connection check_oracle uses, with each oracle's result
    kept under `cache_dir`: an oracle's answer depends only on its SQL and
    the inputs, so the caller names one cache directory per input digest."""

    def __init__(self, cache_dir):
        import duckdb
        self.con = duckdb.connect()
        self.con.execute("SET enable_progress_bar = false")
        self.cache_dir = cache_dir
        self.df = None

    def execute(self, sql):
        if sql.lstrip().upper().startswith("CREATE"):
            self.con.execute(sql)
            return self
        import pandas as pd
        path = os.path.join(self.cache_dir, hashlib.sha256(sql.encode()).hexdigest() + ".pkl")
        if os.path.exists(path):
            self.df = pd.read_pickle(path)
        else:
            self.df = self.con.execute(sql).fetchdf()
            os.makedirs(self.cache_dir, exist_ok=True)
            self.df.to_pickle(path + ".tmp")
            os.replace(path + ".tmp", path)
        return self

    def fetchdf(self):
        return self.df


def oracle_failures(repo_root, data_dir, check_dir, cache_dir):
    """check_oracle's verdicts: ({name: failing line}, {names that passed})."""
    sys.path.insert(0, os.path.join(repo_root, "tools"))
    import check_oracle
    check_oracle.duckdb = type("Oracle", (), {"connect": staticmethod(
        lambda: CachedOracle(cache_dir))})
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check_oracle.main(data_dir, check_dir)
    passed, failed = set(), {}
    for line in buf.getvalue().splitlines():
        m = re.match(r"\s+([A-Za-z0-9_]+)(\.[A-Za-z0-9_]+)?: (.*)$", line)
        if not m:
            continue
        name, col, status = m.groups()
        if col is None and (status.startswith("PASS") or status.endswith("PASS")):
            passed.add(name)
        else:
            failed.setdefault(name, line.strip())
    return failed, passed


def check(repo_root, data_dir, check_dir, names, key, cache_dir):
    """Returns {output name: failure reason} for every output of `names`
    that failed its check; an empty dict means every output is correct.

    The k-means fits depend on the partition layout, so digests are
    committed per core count. Without digests for this one, outputs that
    have no oracle are only checked to be non-empty, as check_oracle does
    for its rows-only outputs. Oracle answers are cached under `cache_dir`."""
    failures, passed = oracle_failures(repo_root, data_dir, check_dir, cache_dir)
    with open(os.path.join(check_dir, "digests.json")) as f:
        material = json.load(f)
    expected = committed(key)
    for name in names:
        if name in failures:
            continue
        if name in material:
            got = hashlib.sha256(material[name].encode()).hexdigest()
            want = (expected or {}).get(name)
            if not material[name]:
                failures[name] = "empty output"
            elif expected is not None and got != want:
                failures[name] = f"digest {got[:12]} != committed {str(want)[:12]}"
        elif name not in passed:
            failures[name] = "no oracle verdict"
    return failures

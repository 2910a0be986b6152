"""Output checks against the registered DuckDB oracles.

Rows are compared as multisets with ``tools/check_oracle.py``'s own
normalization (full-precision float repr, ISO dates, columns in name order),
so a benchmark check and the repository's oracle gate agree on what "equal"
means. Every check runs outside the timed ops.

An oracle result depends only on the input files and the oracle SQL, so its
digest is cached under a hash of both; a cached digest that equals the
output's digest passes the check without running DuckDB again.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
from dataclasses import dataclass, field


def load_check_oracle(repo_root: str):
    """Import ``tools/check_oracle.py`` (a script, not a package) by path."""
    path = os.path.join(repo_root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def multiset_digest(cols, counts) -> str:
    """Digest of a normalized multiset (``df_multiset`` output)."""
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for item in sorted(repr(kv) for kv in counts.items()):
        h.update(item.encode())
    return h.hexdigest()


def files_digest(directory: str) -> str:
    """Digest of every file directly inside ``directory``, names included."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        h.update(name.encode())
        with open(os.path.join(directory, name), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


class OracleCache:
    """Oracle digests on disk, one file per (input, SQL) key."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    @staticmethod
    def key(input_digest: str, sql: str) -> str:
        return hashlib.sha256((input_digest + "\0" + sql).encode()).hexdigest()

    def get(self, key: str) -> str | None:
        try:
            with open(os.path.join(self.root, key)) as fh:
                return fh.read()
        except FileNotFoundError:
            return None

    def put(self, key: str, digest: str) -> None:
        tmp = os.path.join(self.root, f"{key}.{os.getpid()}.part")
        with open(tmp, "w") as fh:
            fh.write(digest)
        os.replace(tmp, os.path.join(self.root, key))


@dataclass
class Checker:
    """Counts checks and keeps the first few mismatches for the artifact."""

    df_multiset: object  # check_oracle.df_multiset
    cache: OracleCache | None = None
    checked: int = 0
    cache_hits: int = 0
    mismatches: list = field(default_factory=list)

    def check(self, label: str, got_cols, got_rows, oracle, key: str | None = None) -> bool:
        """Compare output rows with ``oracle()``'s ``(cols, rows)``; return
        True when they match. ``key`` names the oracle result in the cache."""
        self.checked += 1
        got = self.df_multiset(list(got_cols), got_rows)
        if key is not None and self.cache is not None:
            if self.cache.get(key) == multiset_digest(got_cols, got):
                self.cache_hits += 1
                return True
        want_cols, want_rows = oracle()
        want = self.df_multiset(list(want_cols), want_rows)
        if key is not None and self.cache is not None:
            self.cache.put(key, multiset_digest(want_cols, want))
        if sorted(got_cols) != sorted(want_cols):
            self.mismatches.append(
                {"check": label, "why": "columns", "got": sorted(got_cols), "want": sorted(want_cols)}
            )
            return False
        if got != want:
            self.mismatches.append(
                {
                    "check": label,
                    "why": "rows",
                    "got_rows": sum(got.values()),
                    "want_rows": sum(want.values()),
                    "only_got": [repr(r) for r in list((got - want).elements())[:2]],
                    "only_want": [repr(r) for r in list((want - got).elements())[:2]],
                }
            )
            return False
        return True


def oracle_rows(con, sql: str):
    rel = con.execute(sql)
    return [d[0] for d in rel.description], rel.fetchall()


def parquet_rows(con, path: str):
    """Read a Spark-written parquet directory back with DuckDB."""
    return oracle_rows(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")

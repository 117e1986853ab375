"""DuckDB oracle answers, cached on disk, and the comparison with Spark.

An answer is stored as its column names, row count and a digest of the
order-insensitive row multiset, canonicalised by ``tools/check_oracle.py``
(imported, so the benchmark and the correctness sweep agree on what
"equal" means). The cache key is the oracle SQL text plus the fixture
directory's digest, so a changed oracle or regenerated fixtures never
reuse a stale answer.
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

from check_oracle import TABLES, fixture_digest, rows_to_multiset  # noqa: E402


def answer(cols: list[str], rows: list[tuple]) -> dict:
    """Comparable summary of a result: sorted columns, row count, digest."""
    multiset = rows_to_multiset(cols, rows)
    h = hashlib.md5()
    for item in sorted(repr(kv) for kv in multiset.items()):
        h.update(item.encode())
        h.update(b"\x00")
    return {"cols": sorted(cols), "rows": len(rows), "digest": h.hexdigest()}


class OracleCache:
    """Oracle answers for one fixture directory, computed once with DuckDB."""

    def __init__(self, sf_dir: str, cache_dir: Path):
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self.fixtures = fixture_digest(sf_dir)
        self._con = None
        self.computed = 0

    def _key(self, sql: str) -> str:
        return hashlib.md5(f"{sql}\x00{self.fixtures}".encode()).hexdigest()

    def expected(self, sql: str) -> dict:
        path = self.cache_dir / f"{self._key(sql)}.json"
        if path.exists():
            return json.loads(path.read_text())
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'"
                )
        res = self._con.execute(sql)
        out = answer([d[0] for d in res.description], res.fetchall())
        self.cache_dir.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps(out))
        tmp.replace(path)
        self.computed += 1
        return out

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def mismatch(got: dict, want: dict) -> str | None:
    """None when ``got`` equals ``want``, else a one-line reason."""
    if got["rows"] != want["rows"]:
        return f"rowcount spark={got['rows']} duckdb={want['rows']}"
    if got["cols"] != want["cols"]:
        return f"columns spark={got['cols']} duckdb={want['cols']}"
    if got["digest"] != want["digest"]:
        return "values differ"
    return None


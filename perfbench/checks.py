"""Output checks for the benchmark, run outside the timed region.

* ``migrate_mongo_influx``: every written ``.lp`` line is parsed back and
  compared, value by value, with the dump generator's expected multiset of
  ``(series, timestamp_ns, field set)`` points; row accounting must match
  the generator's document counts.
* analytics: each query's result is hash-compared once per invocation with
  its DuckDB oracle, using the comparator of ``tools/check_oracle.py``;
  every pass must also produce the same ``(rows, value fingerprint)``.
"""

from __future__ import annotations

import functools
import pathlib
import re
import sys
from collections import Counter

#: one ``key=value`` of a field set: a quoted string (backslash escapes)
#: or a bare number / boolean
_FIELD = re.compile(r'((?:[^=,\\]|\\.)+)=("(?:[^"\\]|\\.)*"|[^,]*)(?:,|$)')


@functools.lru_cache(maxsize=1 << 16)
def _parse_value(text: str):
    if text.startswith('"'):
        # after splitting on escaped backslashes every backslash left
        # escapes a quote or stands for a newline
        return ("s", "\\".join(
            p.replace('\\"', '"').replace("\\n", "\n")
            for p in text[1:-1].split("\\\\")
        ))
    if text.endswith("i"):
        return ("i", int(text[:-1]))
    return ("f", float(text))


def parse_line(line: str) -> tuple[str, int, tuple]:
    """``measurement f=v,... ts`` -> (series, ts_ns, sorted field items)."""
    head, ts = line.rsplit(" ", 1)
    series, fields = head.split(" ", 1)
    items = [(k, _parse_value(v)) for k, v in _FIELD.findall(fields)]
    return series, int(ts), tuple(sorted(items))


def read_lines(out_dir: pathlib.Path) -> tuple[Counter, dict]:
    """Every line of the ``<out>/<series>/*.lp`` batches, as a multiset,
    plus per-series ``lines``/``batches``/``bytes`` counts."""
    lines: Counter = Counter()
    stats: dict[str, dict[str, int]] = {}
    if not out_dir.is_dir():
        return lines, stats
    for sdir in sorted(p for p in out_dir.iterdir() if p.is_dir()):
        st = stats.setdefault(sdir.name, {"lines": 0, "batches": 0, "bytes": 0})
        for f in sdir.glob("*.lp"):
            data = f.read_bytes()
            batch = data.decode().splitlines()
            lines.update(batch)
            st["batches"] += 1
            st["bytes"] += len(data)
            st["lines"] += len(batch)
    return lines, stats


def parse_points(lines: Counter) -> Counter:
    """Parse line-protocol lines back into a point multiset."""
    points: Counter = Counter()
    for line, n in lines.items():
        points[parse_line(line)] += n
    return points


def check_migration(report, expected: dict, points: Counter) -> dict[str, str]:
    """Per-table problems of one migration pass (empty when correct).

    A table fails on an ``error``, when ``rows_written + rows_skipped`` is
    not its document count, when ``rows_skipped`` is not its count of
    documents without ``date``, or when its written points differ from the
    expected multiset. A migrated ``system.*`` collection is a failure too.
    ``points`` is the parsed output (``parse_points``).
    """
    problems: dict[str, str] = {}
    by_table = {t.table: t for t in report.tables}
    for name in set(by_table) | set(expected["docs"]):
        t = by_table.get(name)
        if name not in expected["docs"]:
            problems[name] = "table must not be migrated"
        elif t is None:
            problems[name] = "table missing from the report"
        elif t.error is not None:
            problems[name] = f"error: {t.error.splitlines()[0][:200]}"
        elif t.rows_written + t.rows_skipped != expected["docs"][name]:
            problems[name] = (
                f"rows_written {t.rows_written} + rows_skipped "
                f"{t.rows_skipped} != docs {expected['docs'][name]}"
            )
        elif t.rows_skipped != expected["no_date"][name]:
            problems[name] = (
                f"rows_skipped {t.rows_skipped} != docs without date "
                f"{expected['no_date'][name]}"
            )
    want: dict[str, Counter] = {}
    for key, n in expected["points"].items():
        want.setdefault(key[0], Counter())[key] += n
    got: dict[str, Counter] = {}
    for key, n in points.items():
        got.setdefault(key[0], Counter())[key] += n
    for name in set(want) | set(got):
        if name in problems or want.get(name) == got.get(name):
            continue
        extra = got.get(name, Counter()) - want.get(name, Counter())
        missing = want.get(name, Counter()) - got.get(name, Counter())
        problems[name] = (
            f"{sum(missing.values())} expected points missing, "
            f"{sum(extra.values())} unexpected"
            + (f", e.g. {next(iter(extra))!r}"[:300] if extra else "")
        )
    return problems


def fingerprint_columns(df):
    """Observation metrics that fingerprint a result: row count plus two
    order-insensitive folds of a per-row value hash."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    return (
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.pmod(h, F.lit(2147483647))).alias("hsum"),
        F.bit_xor(h).alias("hxor"),
    )


class OracleChecker:
    """DuckDB over the generated parquet tables, compared with the
    comparator ``tools/check_oracle.py`` uses (``spark_rows`` +
    ``value_hash``)."""

    def __init__(self, repo: pathlib.Path, data_dir: pathlib.Path) -> None:
        import duckdb

        sys.path.insert(0, str(repo / "tools"))
        import check_oracle

        self._co = check_oracle
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        for p in sorted(data_dir.glob("*.parquet")):
            self.con.execute(
                f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')"
            )

    def check(self, df, oracle_sql: str) -> str | None:
        """Problem text, or None when the Spark result matches the oracle."""
        scols = df.columns
        srows = self._co.spark_rows(df)
        rel = self.con.sql(oracle_sql)
        dcols = list(rel.columns)
        drows = [tuple(r) for r in rel.fetchall()]
        if sorted(scols) != sorted(dcols):
            return f"columns {sorted(scols)} != {sorted(dcols)}"
        if len(srows) != len(drows):
            return f"rowcount {len(srows)} != {len(drows)}"
        sh = self._co.value_hash(scols, srows)
        dh = self._co.value_hash(dcols, drows)
        return None if sh == dh else f"value hash {sh} != {dh}"

    def close(self) -> None:
        self.con.close()

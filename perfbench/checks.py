"""Output checks, run after the timed passes.

Registered queries are compared with their DuckDB oracle over the
workload's own parquet: row count, column names, and the multiset of
normalized rows (the rule of ``tests/conftest.py``). Queries without an
oracle must return rows. Streaming maintainers must converge to the
batch-built layout of the same documents (the equivalences asserted in
``tests/test_streaming.py`` and ``tests/test_r14_opt.py``).
"""

from __future__ import annotations

import math
import os

import duckdb

from gen import TABLES


def _normalize(value):
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else repr(value)
    if isinstance(value, bool):
        return str(int(value))
    if isinstance(value, list):
        return tuple(_normalize(v) for v in value)
    return str(value)


class OracleChecker:
    def __init__(self, sf_dir: str, oracles: dict[str, str]):
        self.oracles = oracles
        self.con = duckdb.connect()
        for name in TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            self.con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        self._expected: dict[str, tuple] = {}

    def _oracle(self, name: str):
        if name not in self._expected:
            rel = self.con.sql(self.oracles[name])
            cols = sorted(rel.columns)
            order = [rel.columns.index(c) for c in cols]
            rows = sorted(
                tuple(_normalize(r[i]) for i in order) for r in rel.fetchall()
            )
            self._expected[name] = (cols, rows)
        return self._expected[name]

    def check(self, name: str, columns: list[str], rows: list) -> str | None:
        """None when the result is correct, else a one-line reason."""
        if name not in self.oracles:
            return None if rows else "no oracle and no rows"
        want_cols, want_rows = self._oracle(name)
        cols = sorted(columns)
        if cols != want_cols:
            return f"columns {cols} != oracle {want_cols}"
        got = sorted(tuple(_normalize(r[c]) for c in cols) for r in rows)
        if len(got) != len(want_rows):
            return f"{len(got)} rows != oracle {len(want_rows)}"
        if got != want_rows:
            diff = next(a for a, b in zip(got, want_rows) if a != b)
            return f"value mismatch, first differing row {diff}"
        return None

    def close(self) -> None:
        self.con.close()


def _rows(df) -> list[tuple]:
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def _latest(index_root: str) -> str:
    versions = [int(d[1:]) for d in os.listdir(index_root) if d.startswith("v")]
    return os.path.join(index_root, f"v{max(versions)}")


def check_maintainer(spark, name: str, got, sf_dir: str, index_root: str) -> str | None:
    """Compare a maintainer's final snapshot with its batch twin."""
    from pyspark.sql import functions as F

    if name == "corpus_dedup":
        from hadoop_cs4225_spark.sources.sinks import derived_path

        # The signature index the timed pass built cold, read back
        # through its path: a wrong or empty index fails here.
        index = spark.read.parquet(derived_path(sf_dir, "documents_minhash_sigs"))
        sig = ["mh0", "mh1", "mh2", "mh3"]
        want = {
            tuple(r[c] for c in sig): (set(r["docs"]), r["n"] - 1)
            for r in index.groupBy(*sig)
            .agg(F.count(F.lit(1)).alias("n"), F.collect_set("doc_id").alias("docs"))
            .collect()
        }
        have = {
            tuple(r[c] for c in sig): (r["doc_id"], r["n_dups_absorbed"])
            for r in got.collect()
        }
        if set(have) != set(want):
            return f"{len(have)} signatures != batch {len(want)}"
        bad = [s for s, (d, n) in have.items() if d not in want[s][0] or n != want[s][1]]
        return f"{len(bad)} signatures disagree with batch" if bad else None
    if name == "shingle_postings":
        from hadoop_cs4225_spark.operators.dedup import shingle_postings_stats_frame

        want = shingle_postings_stats_frame(spark, sf_dir).select("doc_id", "s", "df", "len")
        ok = _rows(got) == _rows(want)
    elif name == "token_counts":
        from hadoop_cs4225_spark.operators.text_analysis import (
            token_counts_frame,
            token_df_frame,
        )

        ok = _rows(got.select("doc_id", "source", "word", "tf")) == _rows(
            token_counts_frame(spark, sf_dir)
        ) and _rows(got.select("word", "df", "cf").distinct()) == _rows(
            token_df_frame(spark, sf_dir)
        )
    elif name == "byte_shingles":
        from hadoop_cs4225_spark.operators.multimodal_ops import (
            byte_minhash_sigs_frame,
            byte_shingle_sets_frame,
        )

        def norm(df):
            return _rows(df.select("doc_id", F.array_sort("sh").alias("sh")))

        sigs = spark.read.parquet(os.path.join(_latest(index_root), "sigs"))
        ok = norm(got) == norm(byte_shingle_sets_frame(spark, sf_dir)) and _rows(
            sigs
        ) == _rows(byte_minhash_sigs_frame(spark, sf_dir))
    elif name == "ngram5_postings":
        from hadoop_cs4225_spark.operators.text_analysis import ngram5_postings_frame

        ok = _rows(got) == _rows(ngram5_postings_frame(spark, sf_dir))
    else:
        return f"unknown maintainer {name}"
    return None if ok else "final snapshot differs from the batch layout"

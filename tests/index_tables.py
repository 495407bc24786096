"""Shared helpers for tests that build persisted probe indexes: the
table suffixes of each index family and a drop that clears one."""

from __future__ import annotations

MINHASH_SUFFIXES = ("bands", "shingles", "meta")
HAMMING_SUFFIXES = ("summary", "bands", "meta")


def drop_index_tables(spark, name: str, suffixes) -> None:
    for s in suffixes:
        spark.sql(f"DROP TABLE IF EXISTS {name}_{s}")

#!/usr/bin/env python3
"""Compares the catalog generator's tables with a reference table set.

    python3 perfbench/calibrate.py REF_DIR [--seed N] [--sf 0.01]

REF_DIR holds the ten catalog tables as <name>.parquet (the project's
test tables at the same scale factor). The script generates the
benchmark's tables for the seed into perfbench/work/calibrate, computes
the statistics the sampled catalog queries depend on for both sets, and
prints them side by side. It reads REF_DIR and writes only under
perfbench/work.
"""
import argparse
import os
import shutil

import duckdb

import gen

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

GAPS = """WITH g AS (SELECT user_id, epoch_us(ts) - lag(epoch_us(ts))
  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap FROM events)"""

# (statistic, SQL returning one number)
STATS = [(f"rows.{t}", f"SELECT count(*) FROM {t}") for t in TABLES] + [
    ("events.users", "SELECT count(DISTINCT user_id) FROM events"),
    ("events.per_user_p50", "SELECT median(n) FROM (SELECT count(*) n FROM events GROUP BY user_id)"),
    ("events.span_days", "SELECT (epoch(max(ts)) - epoch(min(ts))) / 86400 FROM events"),
    ("events.gap_p50_s", GAPS + " SELECT median(gap) / 1e6 FROM g"),
    ("events.gap_le_30min", GAPS + " SELECT avg(CASE WHEN gap <= 1800000000 THEN 1 ELSE 0 END) FROM g WHERE gap IS NOT NULL"),
    ("events.sessions_per_event", GAPS + " SELECT avg(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END) FROM g"),
    ("events.value_mean", "SELECT avg(value) FROM events"),
    ("events.value_p50", "SELECT median(value) FROM events"),
    ("events.types", "SELECT count(DISTINCT event_type) FROM events"),
    ("documents.words_p50", "SELECT median(len(string_split(text, ' '))) FROM documents"),
    ("documents.vocabulary", "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM documents)"),
    ("documents.dup_token_share", "SELECT avg(CASE WHEN text LIKE '% dup' THEN 1 ELSE 0 END) FROM documents"),
    ("documents.en_share", "SELECT avg(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) FROM documents"),
    ("documents.exact_dups", "SELECT count(*) - count(DISTINCT text) FROM documents"),
    ("embeddings.dim", "SELECT max(len(embedding)) FROM embeddings"),
    ("embeddings.norm_p50", "SELECT median(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))) FROM embeddings"),
    ("embeddings.labels", "SELECT count(DISTINCT label) FROM embeddings"),
    ("embeddings.cos_same_label", """SELECT avg(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))
        FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id"""),
    ("embeddings.cos_abs_mean", """SELECT avg(abs(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id"""),
    ("lineitem.distinct_partkey", "SELECT count(DISTINCT l_partkey) FROM lineitem"),
    ("lineitem.per_part_p50", "SELECT median(n) FROM (SELECT count(*) n FROM lineitem GROUP BY l_partkey)"),
]


def stats(d):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(d, t)}.parquet')")
    return {name: con.sql(sql).fetchone()[0] for name, sql in STATS}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("ref_dir")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--sf", type=float, default=0.01)
    a = ap.parse_args()
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "work", "calibrate")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    gen.catalog_tables(a.seed, out, a.sf)
    ref, ours = stats(a.ref_dir), stats(out)
    print(f"{'statistic':30} {'reference':>14} {'generated':>14}")
    for name, _ in STATS:
        print(f"{name:30} {float(ref[name]):14.4f} {float(ours[name]):14.4f}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Measure the figures corpus.py reproduces, on a reference testdata dir.

Usage: python3 perfbench/profile.py <testdata dir, e.g. sf0.1>

Prints one JSON object: the event-type and table-residue shares, user
spread, value and timestamp-gap distributions and props shapes of
events.parquet, and the length, vocabulary, language, source and duplicate
figures of documents.parquet. corpus.py cites each figure it uses; rerun
this to check them. The benchmark itself never reads the testdata.
"""
import json
import os
import sys

import duckdb


def main():
    d = sys.argv[1]
    con = duckdb.connect()
    ev = f"'{os.path.join(d, 'events.parquet')}'"
    docs = f"'{os.path.join(d, 'documents.parquet')}'"

    def one(sql):
        return con.sql(sql).fetchone()

    def shares(sql):
        return {str(k): round(v, 4) for k, v in con.sql(sql).fetchall()}

    n, lo, hi, users = one(f"SELECT count(*), min(event_id), max(event_id), "
                           f"count(DISTINCT user_id) FROM {ev}")
    per_user = one(f"SELECT min(c), quantile_cont(c, 0.5), max(c) FROM "
                   f"(SELECT count(*) c FROM {ev} GROUP BY user_id)")
    value = one(f"SELECT avg(value), quantile_cont(value, [0.1, 0.5, 0.99]), "
                f"avg((abs(value * 100 - round(value * 100)) < 1e-6)::int) FROM {ev}")
    gaps = one(f"SELECT avg(g), quantile_cont(g, [0.1, 0.5, 0.99]), avg((g = 0)::int), "
               f"(max(t) - min(t)) / 86400e6 FROM (SELECT epoch_us(ts) t, epoch_us(ts) - "
               f"lag(epoch_us(ts)) OVER (ORDER BY event_id) g FROM {ev})")
    props = one(f"SELECT count(DISTINCT props), avg((NOT regexp_full_match(props, "
                f"'\\{{\"k\": [0-9]+\\}}'))::int), min(k), max(k) FROM (SELECT props, "
                f"try_cast(regexp_extract(props, '[0-9]+') AS int) k FROM {ev})")
    words = one(f"SELECT min(n), quantile_cont(n, [0.1, 0.5, 0.9]), max(n) FROM "
                f"(SELECT len(string_split(text, ' ')) n FROM {docs})")
    vocab = [w for (w,) in con.sql(
        f"SELECT DISTINCT unnest(string_split(text, ' ')) w FROM {docs} ORDER BY w").fetchall()]
    n_docs, = one(f"SELECT count(*) FROM {docs}")
    near, = one(f"SELECT count(*) FROM {docs} a WHERE EXISTS (SELECT 1 FROM {docs} b "
                f"WHERE a.text = b.text || ' dup')")
    exact, = one(f"SELECT count(*) - count(DISTINCT text) FROM {docs}")
    marked, = one(f"SELECT count(*) FROM {docs} WHERE text LIKE '% dup'")
    print(json.dumps({
        "events": {
            "rows": n, "event_id": [lo, hi], "users": users,
            "events_per_user_min_median_max": per_user,
            "event_type_shares": shares(
                f"SELECT event_type, count(*) / {n} FROM {ev} GROUP BY 1 ORDER BY 1"),
            "event_id_mod5_shares": shares(
                f"SELECT event_id % 5, count(*) / {n} FROM {ev} GROUP BY 1 ORDER BY 1"),
            "value_mean_p10_p50_p99": [value[0], *value[1]],
            "value_two_decimals_share": value[2],
            "ts_gap_us_mean_p10_p50_p99": [gaps[0], *gaps[1]],
            "ts_tie_share": gaps[2], "ts_span_days": gaps[3],
            "props_distinct": props[0], "props_malformed_share": props[1],
            "props_k_min_max": [props[2], props[3]],
        },
        "documents": {
            "rows": n_docs,
            "words_min_p10_p50_p90_max": [words[0], *words[1], words[2]],
            "vocabulary": vocab,
            "lang_shares": shares(
                f"SELECT lang, count(*) / {n_docs} FROM {docs} GROUP BY 1 ORDER BY 1"),
            "sources": one(f"SELECT count(DISTINCT source) FROM {docs}")[0],
            "dup_marked_share": marked / n_docs,
            "near_dup_share": near / n_docs,
            "exact_dup_share": exact / n_docs,
        },
    }, indent=1, default=float))


if __name__ == "__main__":
    main()

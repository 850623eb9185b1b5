#!/usr/bin/env python3
"""Measure the shape of a fixture table set; `gen.py` draws from the result.

    python3 perfbench/fixture_stats.py <sf0.1 dir> > perfbench/fixture_stats.json

The benchmark may read only its checkout, so it cannot read the fixtures
at run time. This script records, once, the statistics its generators
need: the events' time span, user count, event-type mix and value
distribution; the orders' size, customer count and CDC share; and the
documents' exact word-count histogram and (lang, source) pair counts
(the empirical distributions `gen_corpus` samples from).
"""
import json
import sys

import duckdb


def main(sf):
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")

    def one(q):
        return con.sql(q).fetchone()

    ev = f"read_parquet('{sf}/events.parquet')"
    n, span_s, users = one(f"SELECT count(*), epoch(max(ts)) - epoch(min(ts)), "
                           f"count(DISTINCT user_id) FROM {ev}")
    v_mean, v_sd, v_p50, v_max, zero = one(
        f"SELECT avg(value), stddev(value), median(value), max(value), "
        f"count(*) FILTER (WHERE value = 0) FROM {ev}")
    windows = one(f"SELECT count(DISTINCT floor(epoch(ts) / 10)) FROM {ev}")[0]
    per_user = one(f"SELECT min(c), max(c) FROM (SELECT count(*) c FROM {ev} "
                   f"GROUP BY user_id)")
    mix = dict(con.sql(f"SELECT event_type, count(*) FROM {ev} GROUP BY 1 "
                       f"ORDER BY 1").fetchall())
    od = f"read_parquet('{sf}/orders.parquet')"
    n_orders, n_cust, cdc = one(
        f"SELECT count(*), count(DISTINCT o_custkey), "
        f"count(*) FILTER (WHERE o_orderkey % 10 = 0) FROM {od}")
    p_lo, p_hi = one(f"SELECT min(o_totalprice), max(o_totalprice) FROM {od}")
    dc = f"read_parquet('{sf}/documents.parquet')"
    words = "len(string_split(trim(text), ' '))"
    n_docs, distinct_texts = one(f"SELECT count(*), count(DISTINCT text) FROM {dc}")
    lengths = con.sql(f"SELECT {words}, count(*) FROM {dc} GROUP BY 1 "
                      f"ORDER BY 1").fetchall()
    langsrc = con.sql(f"SELECT lang, source, count(*) FROM {dc} GROUP BY 1, 2 "
                      f"ORDER BY 1, 2").fetchall()
    return {
        "events": {"rows": n, "span_s": round(span_s), "users": users,
                   "windows_10s": windows, "events_per_user": list(per_user),
                   "event_type_counts": mix,
                   "value": {"mean": round(v_mean, 3), "sd": round(v_sd, 3),
                             "p50": v_p50, "max": v_max, "zeros": zero}},
        "orders": {"rows": n_orders, "customers": n_cust, "cdc_orders": cdc,
                   "totalprice": [p_lo, p_hi]},
        "documents": {"rows": n_docs, "distinct_texts": distinct_texts,
                      "word_count_hist": [list(r) for r in lengths],
                      "lang_source_counts": [list(r) for r in langsrc]},
    }


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print(json.dumps(main(sys.argv[1]), indent=1))

"""Inputs and checks of the `suite` workload.

`generate` writes the TPC-H-shaped star schema plus the `events`,
`documents` and `embeddings` tables that `graft.SparkEntry.queries` read,
as one parquet file per table, from a seed: the same seed gives the same
rows. Value shapes follow the repository's test tables (money rounded to
cents, orders and shipments over 1995-2001, events over January 2024,
documents of 10-100 words from a 30-word vocabulary with about 5% near
and 0.2% exact duplicates, unit-length 64-dimensional embeddings).

`check` compares each query's output, written once by the benchmark
process, with the query's `SparkEntry.oracleSql` statement run by DuckDB
over the same parquet files.
"""
import glob
import json
import os

# rows per table; the documents drive the text, sketch and similarity
# kernels, the lineitem/orders/events rows the relational operators
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 400,
        "embeddings": 500}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def _lst(words):
    return "[" + ", ".join("'" + w + "'" for w in words) + "]"


def generate(con, out_dir, seed):
    """Write every table to `out_dir`/<table>.parquet."""
    os.makedirs(out_dir, exist_ok=True)
    n = ROWS

    def u(salt, key="i"):
        # uniform [0, 1) from the row key, the seed and a per-column salt
        return f"((hash({key}, {seed}, {salt}) % 1000000007)::DOUBLE / 1000000007)"

    def pick(words, salt):
        return f"({_lst(words)})[1 + floor({u(salt)} * {len(words)})::INT]"

    def rng(count):
        return f"FROM range({count}) t(i)"

    days = "to_days(floor({} * {})::INT)"
    sql = {
        "region": "SELECT i::INT AS r_regionkey, "
                  f"({_lst(['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'])})"
                  f"[i + 1] AS r_name {rng(5)}",
        "nation": "SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name, "
                  f"(i % 5)::INT AS n_regionkey {rng(25)}",
        "customer": "SELECT i::BIGINT AS c_custkey, "
                    "'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name, "
                    f"floor({u(1)} * 25)::INT AS c_nationkey, "
                    f"round(-999.99 + {u(2)} * 10999.79, 2) AS c_acctbal, "
                    f"{pick(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'], 3)}"
                    f" AS c_mktsegment {rng(n['customer'])}",
        "supplier": "SELECT i::BIGINT AS s_suppkey, "
                    "'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name, "
                    f"floor({u(11)} * 25)::INT AS s_nationkey, "
                    f"round(-999.99 + {u(12)} * 10999.79, 2) AS s_acctbal "
                    f"{rng(n['supplier'])}",
        "part": "SELECT i::BIGINT AS p_partkey, "
                f"{pick('blue cold hot large new old red small'.split(), 21)} || ' ' || "
                f"{pick('anvil bolt gear gizmo plate ring rod widget'.split(), 22)} AS p_name, "
                f"'Brand#' || (1 + floor({u(23)} * 25)::INT) AS p_brand, "
                f"{pick(['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'], 24)} AS p_type, "
                f"(1 + floor({u(25)} * 50))::INT AS p_size, "
                f"round(900 + (i % 1000) * 0.1, 1)::DOUBLE AS p_retailprice {rng(n['part'])}",
        "orders": "SELECT i::BIGINT AS o_orderkey, "
                  f"floor({u(31)} * {n['customer']})::BIGINT AS o_custkey, "
                  f"{pick(['F', 'O', 'P'], 32)} AS o_orderstatus, "
                  f"round(1000 + {u(33)} * 499000, 2) AS o_totalprice, "
                  f"TIMESTAMP '1995-01-01' + {days.format(u(34), 2404)} AS o_orderdate, "
                  f"{pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], 35)}"
                  f" AS o_orderpriority {rng(n['orders'])}",
        "lineitem": f"SELECT floor({u(41)} * {n['orders']})::BIGINT AS l_orderkey, "
                    f"floor({u(42)} * {n['part']})::BIGINT AS l_partkey, "
                    f"floor({u(43)} * {n['supplier']})::BIGINT AS l_suppkey, "
                    f"(1 + floor({u(44)} * 7))::INT AS l_linenumber, "
                    f"(1 + floor({u(45)} * 50))::DOUBLE AS l_quantity, "
                    f"round(900 + {u(46)} * 104100, 2) AS l_extendedprice, "
                    f"round({u(47)} * 0.1, 2) AS l_discount, "
                    f"round({u(48)} * 0.08, 2) AS l_tax, "
                    f"{pick(['A', 'N', 'R'], 49)} AS l_returnflag, "
                    f"{pick(['F', 'O'], 50)} AS l_linestatus, "
                    f"TIMESTAMP '1995-01-02' + {days.format(u(51), 2498)} AS l_shipdate "
                    f"{rng(n['lineitem'])}",
        "events": "SELECT i::BIGINT AS event_id, "
                  "TIMESTAMP '2024-01-01' + to_microseconds("
                  f"floor((i + {u(61)}) / {n['events']} * 30 * 86400e6)::BIGINT) AS ts, "
                  f"floor({u(62)} * 1500)::BIGINT AS user_id, "
                  f"{pick(['click', 'error', 'purchase', 'signup', 'view'], 63)} AS event_type, "
                  f"round(-ln(1 - {u(64)}) * 50, 2) AS value, "
                  f"'{{\"k\": ' || floor({u(65)} * 100)::INT || '}}' AS props "
                  f"{rng(n['events'])}",
        # a document is fresh words, or a copy of an earlier document:
        # with " dup" appended (near duplicate) or verbatim (exact)
        "documents": f"""
            WITH base AS (
              SELECT i, array_to_string(list_transform(
                       range(10 + floor({u(71)} * 91)::INT),
                       k -> ({_lst(VOCAB)})[1 + (hash(i, {seed}, 72, k) % {len(VOCAB)})::INT]),
                       ' ') AS fresh,
                     {u(73)} AS r, floor({u(74)} * i)::BIGINT AS origin
              {rng(n['documents'])}),
            docs AS (
              SELECT b.i, CASE WHEN b.i > 0 AND b.r < 0.05 THEN o.fresh || ' dup'
                               WHEN b.i > 0 AND b.r < 0.052 THEN o.fresh
                               ELSE b.fresh END AS text
              FROM base b JOIN base o ON o.i = b.origin)
            SELECT i::BIGINT AS doc_id, text,
                   CASE WHEN {u(75)} < 0.41 THEN 'en'
                        ELSE {pick(['de', 'es', 'fr', 'zh'], 76)} END AS lang,
                   'src' || (i % 20) AS source, length(text)::BIGINT AS n_chars
            FROM docs ORDER BY i""",
        # unit-length gaussian vectors (Box-Muller over two hashed uniforms)
        "embeddings": f"""
            WITH g AS (
              SELECT i, list_transform(range(64), k ->
                       sqrt(-2 * ln(1 - (hash(i, {seed}, 87, k) % 1000000007)::DOUBLE / 1000000007))
                       * cos(2 * pi() * (hash(i, {seed}, 88, k) % 1000000007)::DOUBLE / 1000000007)) AS v
              {rng(n['embeddings'])})
            SELECT i::BIGINT AS vec_id,
                   list_transform(v, x -> (x / sqrt(list_sum(list_transform(v, y -> y * y)))))::FLOAT[]
                     AS embedding,
                   floor({u(89)} * 10)::INT AS label
            FROM g ORDER BY i""",
    }
    for t in TABLES:
        # small row groups let a scan of the text tables split into several
        # partitions, which the partition-count property checks rely on
        rg = 128 if t in ("documents", "embeddings") else 122880
        con.execute(f"COPY ({sql[t]}) TO '{out_dir}/{t}.parquet' "
                    f"(FORMAT PARQUET, ROW_GROUP_SIZE {rg})")


def check(con, data_dir, results_dir, oracle):
    """Compare each written query output with its DuckDB oracle. Returns
    (attempted, failed, problems); one query is one operation."""
    import pandas as pd
    import pyarrow.parquet as pq
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    failed, problems = 0, []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        why = None
        try:
            got = pd.concat([pq.read_table(f).to_pandas() for f in files]) if files else None
            want = con.execute(sql).df()
            if got is None:
                why = "no output"
            elif sorted(got.columns) != sorted(want.columns):
                why = f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
            elif len(got) != len(want):
                why = f"{len(got)} rows vs {len(want)}"
            else:
                cols = sorted(got.columns)
                g = got[cols].sort_values(cols).reset_index(drop=True)
                w = want[cols].sort_values(cols).reset_index(drop=True)
                for c in cols:
                    a, b = g[c], w[c]
                    if str(a.dtype).startswith("datetime64") or str(b.dtype).startswith("datetime64"):
                        a, b = pd.to_datetime(a), pd.to_datetime(b)
                    eq = ((a.fillna("\0") == b.fillna("\0")) if a.dtype == object
                          else ((a == b) | (a.isna() & b.isna())))
                    if not eq.all():
                        k = (~eq).idxmax()
                        why = f"{c}[{k}]: {a[k]!r} vs {b[k]!r}"
                        break
        except Exception as e:  # a failing oracle or unreadable output is a mismatch
            why = f"{type(e).__name__}: {e}"
        if why:
            failed += 1
            problems.append(f"suite {name}: {why}")
    return len(oracle), failed, problems


if __name__ == "__main__":
    import sys
    import duckdb
    generate(duckdb.connect(), sys.argv[1], int(sys.argv[2]))
    print(json.dumps(ROWS))

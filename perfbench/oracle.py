"""Correctness gate: DuckDB recomputations of each workload's outputs.

Each check returns (name, ok, detail, weight); a failed check adds its
weight to the run's failed operations. Comparisons are type-strict as the
repository's oracle checker is: column names, arrow type classes, row
counts and exact cell values. Dashboard averages are the one exception:
they are compared to 1e-9 relative, because a mean's summation order is
engine-specific.
"""
import json
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TS_FMT = "%Y-%m-%dT%H:%M:%S"


def type_class(t):
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return "list<" + type_class(t.value_type) + ">"
    return str(t)


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return "0.0"
        return repr(v)
    if isinstance(v, list):
        return "[" + ",".join(sorted(norm(x) for x in v)) + "]"
    return str(v)


def read_dir(path):
    files = sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))
    return pq.read_table(files)


def compare(name, spark_tbl, duck, rel=0.0, weight=1):
    s_cols, d_cols = sorted(spark_tbl.column_names), sorted(duck.column_names)
    if s_cols != d_cols:
        return name, False, f"columns differ spark={s_cols} duck={d_cols}", weight
    for c in s_cols:
        sc = type_class(spark_tbl.schema.field(c).type)
        dc = type_class(duck.schema.field(c).type)
        if sc != dc or "decimal" in (sc, dc):
            return name, False, f"column {c} type spark={sc} duck={dc}", weight
    if spark_tbl.num_rows != duck.num_rows:
        return name, False, f"rows spark={spark_tbl.num_rows} duck={duck.num_rows}", weight
    if rel:
        def close(a, b):
            return a == b or (isinstance(a, float) and isinstance(b, float)
                              and abs(a - b) <= rel * max(abs(a), abs(b)))
        key = [c for c in s_cols if type_class(spark_tbl.schema.field(c).type) != "float"]
        srt = lambda t: sorted(zip(*[t.column(c).to_pylist() for c in s_cols]),
                               key=lambda r: tuple(norm(r[s_cols.index(k)]) for k in key))
        for i, (a, b) in enumerate(zip(srt(spark_tbl), srt(duck))):
            if not all(close(x, y) for x, y in zip(a, b)):
                return name, False, f"row {i} spark={a} duck={b}", weight
        return name, True, f"({spark_tbl.num_rows} rows)", weight
    rows = lambda t: sorted(tuple(norm(v) for v in r)
                            for r in zip(*[t.column(c).to_pylist() for c in s_cols]))
    sr, dr = rows(spark_tbl), rows(duck)
    if sr != dr:
        bad = next(i for i, (a, b) in enumerate(zip(sr, dr)) if a != b)
        return name, False, f"sorted row {bad} spark={sr[bad]} duck={dr[bad]}", weight
    return name, True, f"({spark_tbl.num_rows} rows)", weight


def _grid(con, inp, out, res):
    applied = int(res["facts"]["applied_batches"])
    f = res["facts"]
    con.execute(f"CREATE VIEW landing AS SELECT * FROM read_parquet('{inp}/landing.parquet')")
    con.execute(f"""CREATE VIEW retr AS SELECT batch, strptime(DATETIME, '{TS_FMT}') AS dt
                    FROM read_parquet('{inp}/retractions.parquet') WHERE batch < {applied}""")

    def num(c):
        return f"TRY_CAST({c} AS DOUBLE)"

    def perc(fuel):
        calc = f"""(CASE WHEN g = 0 THEN (CASE WHEN {fuel.lower()} > 0 THEN 'infinity'::DOUBLE
                                       WHEN {fuel.lower()} < 0 THEN '-infinity'::DOUBLE
                                       WHEN {fuel.lower()} = 0 THEN 'nan'::DOUBLE END)
                    ELSE {fuel.lower()} / g * 100 END)"""
        p = f"p_{fuel.lower()}"
        return f"""COALESCE(CASE WHEN isnan({calc}) THEN {p} WHEN abs({calc} - {p}) > 1.0 THEN {calc}
                    ELSE {p} END, 0.0) AS "{fuel}_perc" """

    con.execute(f"""CREATE VIEW sink AS
        WITH typed AS (
          SELECT CAST(_id AS BIGINT) AS _id, strptime(DATETIME, '{TS_FMT}') AS dt, batch,
            {num('GAS')} AS gas, {num('COAL')} AS coal, {num('NUCLEAR')} AS nuclear,
            {num('WIND')} AS wind, {num('SOLAR')} AS solar, {num('GENERATION')} AS g,
            {num('GAS_perc')} AS p_gas, {num('WIND_perc')} AS p_wind, {num('SOLAR_perc')} AS p_solar
          FROM landing WHERE batch < {applied}),
        last AS (SELECT * FROM typed QUALIFY row_number() OVER (PARTITION BY dt ORDER BY _id DESC) = 1)
        SELECT _id, dt AS "DATETIME", COALESCE(gas, 0.0) AS "GAS", COALESCE(coal, 0.0) AS "COAL",
          COALESCE(nuclear, 0.0) AS "NUCLEAR", COALESCE(wind, 0.0) AS "WIND",
          COALESCE(solar, 0.0) AS "SOLAR", COALESCE(g, 0.0) AS "GENERATION",
          {perc('GAS')}, {perc('WIND')}, {perc('SOLAR')}
        FROM last l
        WHERE NOT EXISTS (SELECT 1 FROM retr r WHERE r.dt = l.dt AND r.batch >= l.batch)""")
    q = lambda sql: con.execute(sql).fetch_arrow_table()
    yield compare("grid.sink", read_dir(f"{out}/sink"), q("SELECT * FROM sink"))
    yield compare("grid.mv", read_dir(f"{out}/mv"), q("""
        SELECT date_trunc('hour', "DATETIME") AS bucket_h, count(*)::BIGINT AS n_rows,
          sum(floor("WIND" * 1000)::BIGINT)::BIGINT AS sum_w, min(floor("WIND" * 1000)::BIGINT) AS min_w,
          max(floor("WIND" * 1000)::BIGINT) AS max_w FROM sink GROUP BY 1"""))
    yield compare("grid.read_bounds", read_dir(f"{out}/read_bounds"),
                  q('SELECT min("DATETIME") AS lo, max("DATETIME") AS hi FROM sink'))
    yield compare("grid.read_resample", read_dir(f"{out}/read_resample"), q(f"""
        SELECT * FROM (SELECT CAST(date_trunc('day', "DATETIME") AS TIMESTAMP) AS "DATETIME", avg("WIND") AS "WIND",
          avg("GAS") AS "GAS", avg("SOLAR") AS "SOLAR", avg("GENERATION") AS "GENERATION"
          FROM sink GROUP BY 1)
        WHERE "DATETIME" BETWEEN TIMESTAMP '{f["resample_from"]}' AND TIMESTAMP '{f["resample_to"]}'"""),
                  rel=1e-9)
    yield compare("grid.read_unpivot", read_dir(f"{out}/read_unpivot"), q(f"""
        UNPIVOT (SELECT "DATETIME", "WIND", "GAS", "SOLAR" FROM sink
                 WHERE "DATETIME" BETWEEN TIMESTAMP '{f["unpivot_from"]}' AND TIMESTAMP '{f["unpivot_to"]}')
        ON "WIND", "GAS", "SOLAR" INTO NAME "Fuel" VALUE "value" """))


# DuckDB twins of the shingle hashes, MinHash (k = 8) and 4x2 LSH banding,
# as the registry's q73 oracle spells them.
_HASHED = """hashed AS (
    SELECT doc_id, list_distinct([((th[i]*8191 + th[i+1]) % 4294967296 * 8191 + th[i+2]) % 4294967296
                                  for i in range(1, greatest(len(th) - 1, 1))]) AS hs
    FROM (SELECT doc_id, [('0x' || substr(md5(t), 1, 8))::BIGINT for t in toks] AS th
          FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM kept0)))"""
_SIG = """[list_min([(h * (2*i + 1) + i * 2654435761) % 4294967296 for h in hs]) for i in range(0, 8)]"""
_JACC = "CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) / (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs)))"


def _corpus(con, inp, out, res):
    con.execute(f"CREATE VIEW documents AS SELECT doc_id, text FROM read_parquet('{inp}/documents.parquet')")
    con.execute("""CREATE VIEW exact AS SELECT doc_id, canonical_id, doc_id <> canonical_id AS is_dup
                   FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id FROM documents)""")
    con.execute("CREATE VIEW kept0 AS SELECT d.* FROM documents d JOIN exact USING (doc_id) WHERE NOT is_dup")
    con.execute(f"CREATE TABLE hashed AS WITH {_HASHED} SELECT * FROM hashed")
    con.execute(f"""CREATE TABLE lsh AS
        WITH sig AS (SELECT doc_id, hs, {_SIG} AS mh FROM hashed WHERE len(hs) > 0),
        bands AS (SELECT doc_id, b, mh[2*b+1]::VARCHAR || ',' || mh[2*b+2]::VARCHAR AS bv
                  FROM sig, unnest(range(0, 4)) AS u(b)),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM bands a JOIN bands b ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
        WHERE {_JACC} >= 0.5""")
    con.execute(f"""CREATE TABLE clusters AS
        WITH RECURSIVE edges AS (SELECT doc_a AS a, doc_b AS b FROM lsh UNION SELECT doc_b, doc_a FROM lsh),
        nodes AS (SELECT DISTINCT a AS id FROM edges),
        reach(id, lbl) AS (SELECT id, id FROM nodes
                           UNION SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id)
        SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id""")
    q = lambda sql: con.execute(sql).fetch_arrow_table()
    yield compare("corpus.exact", read_dir(f"{out}/exact"), q("SELECT * FROM exact"))
    yield compare("corpus.shingles", read_dir(f"{out}/shingles"),
                  q("SELECT doc_id, hs AS shash FROM hashed"))
    yield compare("corpus.lsh_pairs", read_dir(f"{out}/lsh"), q("SELECT * FROM lsh"))
    yield compare("corpus.exact_pairs", read_dir(f"{out}/prefix"), q(f"""
        WITH ex AS (SELECT doc_id, unnest(hs) AS h FROM hashed WHERE len(hs) > 0),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM ex a JOIN ex b
                 ON a.h = b.h AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b FROM cand JOIN hashed sa ON sa.doc_id = doc_a JOIN hashed sb ON sb.doc_id = doc_b
        WHERE {_JACC} >= 0.5"""))
    yield compare("corpus.clusters", read_dir(f"{out}/labels"), q("SELECT * FROM clusters"))
    yield compare("corpus.kept", read_dir(f"{out}/kept"), q("""
        SELECT doc_id FROM kept0 LEFT JOIN clusters USING (doc_id)
        WHERE cluster_id IS NULL OR cluster_id = doc_id"""))
    flags = read_dir(f"{out}/flags")
    kept = read_dir(f"{out}/kept")
    same = sorted(flags.column("doc_id").to_pylist()) == sorted(kept.column("doc_id").to_pylist())
    yield "corpus.funnel_rows", same, f"({flags.num_rows} flag rows, {kept.num_rows} kept)", 1


def _vector(con, inp, out, res):
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{inp}/embeddings.parquet')")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    for name in sorted(oracle):
        try:
            duck = con.execute(oracle[name]).fetch_arrow_table()
        except Exception as e:  # an oracle that cannot run is a failed check
            yield name, False, str(e).splitlines()[0], 1
            continue
        yield compare(name, read_dir(f"{out}/{name}"), duck)


def _llm(con, inp, out, res):
    yield from _corpus(con, inp, out, res)
    yield from _vector(con, inp, out, res)


CHECKS = {"grid_refresh": _grid, "llm_data": _llm}


def check(workload, inp, out, tmp, res):
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute(f"SET temp_directory = '{tmp}'")
    results = []
    try:
        for r in CHECKS[workload](con, inp, out, res):
            results.append(r)
    except Exception as e:
        results.append((f"{workload}.oracle", False, f"{type(e).__name__}: {e}".splitlines()[0], 1))
    finally:
        con.close()
    return results

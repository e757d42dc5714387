"""Seeded input generators for the benchmark.

Everything the program reads is made here, from the seed, with DuckDB,
pyarrow and the Python standard library -- never with the program's own
code, so a change to the program cannot change its own inputs.

  tpch(dir)              TPC-H tables (DuckDB dbgen, fixed scale factor)
  replay(dir, seed)      rotated FE audit-log files + the DuckDB row count
                         of every statement that a dump must keep
  gendata(dir)           DDL + genconf for the stats-driven generation
                         (the seed goes to the generator itself)
  corpus(dir, seed)      a text corpus with planted exact and near
                         duplicates, and its decontamination probe set

Each generator writes into a fresh directory and marks it complete with a
`_DONE` file, so an interrupted run never leaves a half-written cache.
"""
import datetime
import json
import os
import random
import shutil

import duckdb
import pyarrow as pa

TPCH_SF = 0.01
TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "partsupp",
               "orders", "lineitem"]

# replay: statements per pass (templates rotate, so each template appears
# the same number of times under every seed and only its parameters vary)
REPLAY_STATEMENTS = 60
REPLAY_FILES = 2

# gendata: rows generated for the stats-driven table per pass
GEN_ROWS = 400_000
GEN_DIM_ROWS = 5_000

# curation corpus
CORPUS_DOCS = 20_000
CORPUS_SHARDS = 4
EXACT_DUP_FRAC = 0.03
NEAR_DUP_FRAC = 0.08
PROBE_MOD, PROBE_REM = 20, 7


def connect():
    # no extension may be fetched: tpch and parquet are built in
    return duckdb.connect(config={"autoinstall_known_extensions": False,
                                  "autoload_known_extensions": False})


def _fresh(path):
    if os.path.isdir(path):
        shutil.rmtree(path)
    os.makedirs(path)


def done(path):
    return os.path.exists(os.path.join(path, "_DONE"))


def _mark(path):
    open(os.path.join(path, "_DONE"), "w").close()


def tpch_tables(con, tpch_dir):
    for t in TPCH_TABLES:
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{tpch_dir}/{t}.parquet')")


def tpch(out):
    if done(out):
        return
    _fresh(out)
    con = connect()
    con.execute(f"CALL dbgen(sf={TPCH_SF})")
    for t in TPCH_TABLES:
        con.execute(f"COPY {t} TO '{out}/{t}.parquet' (FORMAT parquet)")
    _mark(out)


# ---- replay ---------------------------------------------------------------

def _templates(r, orderkeys):
    """(kind, doris_sql, duckdb_sql) triples, one per template, parameters
    drawn from `r`. The Doris text uses the dialect a replayed Doris workload
    carries; the DuckDB text is the same query in DuckDB's dialect and
    only serves to count the expected rows."""
    okey = r.choice(orderkeys)
    d0 = f"199{r.randint(2, 7)}-{r.randint(1, 12):02d}-01"
    seg = r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    region = r.choice(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])
    status = r.choice(["F", "O", "P"])
    m, n = r.randint(0, 500), r.randint(5, 60)
    bal = r.randint(-500, 9000)
    sizes = sorted(r.sample(range(1, 51), 5))
    qty = r.randint(1, 50)
    days = r.choice([30, 60, 90])
    s = ", ".join(map(str, sizes))

    def both(kind, sql):  # the same text is valid in both dialects
        return kind, sql, sql

    return [
        both("point_lookup",
             f"SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders "
             f"WHERE o_orderkey = {okey}"),
        both("filtered_aggregate",
             f"SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q "
             f"FROM lineitem WHERE l_shipdate >= '{d0}' AND l_quantity < {qty} "
             f"GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
        # 2-way join with a MySQL-style interval and LIMIT m, n
        ("join2_interval",
         f"SELECT c_custkey, count(*) AS n FROM customer JOIN orders ON c_custkey = o_custkey "
         f"WHERE c_mktsegment = '{seg}' AND o_orderdate >= '{d0}' "
         f"AND o_orderdate < DATE_ADD(DATE '{d0}', INTERVAL {days} DAY) "
         f"GROUP BY c_custkey ORDER BY n DESC, c_custkey LIMIT {m}, {n}",
         f"SELECT c_custkey, count(*) AS n FROM customer JOIN orders ON c_custkey = o_custkey "
         f"WHERE c_mktsegment = '{seg}' AND o_orderdate >= DATE '{d0}' "
         f"AND o_orderdate < DATE '{d0}' + INTERVAL {days} DAY "
         f"GROUP BY c_custkey ORDER BY n DESC, c_custkey LIMIT {n} OFFSET {m}"),
        both("join3",
             f"SELECT n_name, count(*) AS n, sum(o_totalprice) AS t FROM customer "
             f"JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey "
             f"JOIN orders ON o_custkey = c_custkey WHERE r_name = '{region}' "
             f"AND o_orderdate >= '{d0}' GROUP BY n_name ORDER BY n_name"),
        both("qualify",
             f"SELECT o_custkey, o_orderkey, o_totalprice FROM orders "
             f"WHERE o_orderdate >= '{d0}' AND o_orderstatus = '{status}' "
             f"QUALIFY row_number() OVER (PARTITION BY o_custkey "
             f"ORDER BY o_totalprice DESC, o_orderkey) = 1 ORDER BY o_custkey"),
        ("minus",
         f"SELECT c_nationkey FROM customer WHERE c_acctbal > {bal} "
         f"MINUS SELECT s_nationkey FROM supplier WHERE s_acctbal > {bal + 500} "
         f"ORDER BY c_nationkey",
         f"SELECT c_nationkey FROM customer WHERE c_acctbal > {bal} "
         f"EXCEPT SELECT s_nationkey FROM supplier WHERE s_acctbal > {bal + 500} "
         f"ORDER BY c_nationkey"),
        both("rollup",
             f"SELECT n_regionkey, n_name, count(*) AS n FROM supplier "
             f"JOIN nation ON s_nationkey = n_nationkey WHERE s_acctbal > {bal} "
             f"GROUP BY ROLLUP(n_regionkey, n_name) ORDER BY n_regionkey, n_name"),
        # MySQL %-pattern date formatting
        ("date_format",
         f"SELECT date_format(o_orderdate, '%Y-%m') AS ym, count(*) AS n FROM orders "
         f"WHERE o_orderdate >= '{d0}' AND o_orderstatus = '{status}' GROUP BY 1 ORDER BY 1",
         f"SELECT strftime(o_orderdate, '%Y-%m') AS ym, count(*) AS n FROM orders "
         f"WHERE o_orderdate >= DATE '{d0}' AND o_orderstatus = '{status}' "
         f"GROUP BY 1 ORDER BY 1"),
        both("in_list_having",
             f"SELECT p_brand, count(*) AS n, avg(p_retailprice) AS p FROM part "
             f"WHERE p_size IN ({s}) GROUP BY p_brand HAVING count(*) > {qty // 10} "
             f"ORDER BY p_brand"),
        # LIMIT m, n over a sorted scan
        ("limit_offset",
         f"SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = '{status}' "
         f"ORDER BY o_totalprice DESC, o_orderkey LIMIT {m}, {n}",
         f"SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = '{status}' "
         f"ORDER BY o_totalprice DESC, o_orderkey LIMIT {n} OFFSET {m}"),
    ]


N_TEMPLATES = 10


def _record(ts, client, db, state, ms, rows, qid, is_query, stmt_type, stmt):
    return (f"{ts} [query] |Client={client}|User=bench|Ctl=internal|Db={db}"
            f"|State={state}|ErrorCode=0|ErrorMessage=|Time(ms)={ms}"
            f"|ScanBytes=0|ScanRows=0|ReturnRows={rows}|StmtId={qid[:8]}"
            f"|QueryId={qid}|IsQuery={str(is_query).lower()}|isNereids=true"
            f"|feIp=10.0.0.1|StmtType={stmt_type}|Stmt={stmt}|CpuTimeMS=1"
            f"|ShuffleSendBytes=0|ShuffleSendRows=0|SqlHash=0|peakMemoryBytes=0\n")


def replay(out, seed, tpch_dir):
    """Audit-log directory `out/log` plus `out/expected.json`.

    The log holds REPLAY_STATEMENTS distinct SELECTs (template i % 10), and
    around them the records a dump must drop or fold: non-SELECTs, a
    truncated statement per file, and duplicate QueryIds. Some SELECTs are
    multi-line records, some carry `\\n` escapes, some have State=ERR (the
    original run failed; the statement itself is valid)."""
    if done(out):
        return
    _fresh(out)
    os.makedirs(f"{out}/log")
    r = random.Random(seed)
    con = connect()
    tpch_tables(con, tpch_dir)
    orderkeys = [k for (k,) in con.execute("SELECT o_orderkey FROM orders ORDER BY 1").fetchall()]
    clients = [f"10.1.{r.randint(0, 255)}.{r.randint(1, 254)}:{r.randint(30000, 60000)}"
               for _ in range(6)]
    expected = {}
    kinds = []
    records = []  # (file index, text)
    base_s = 1_700_000_000 + r.randrange(10_000_000)
    for i in range(REPLAY_STATEMENTS):
        kind, doris, duck = _templates(r, orderkeys)[i % N_TEMPLATES]
        kinds.append(kind)
        rows = con.execute(f"SELECT count(*) FROM ({duck})").fetchone()[0]
        qid = f"{r.getrandbits(64):016x}-{r.getrandbits(64):016x}"
        shape = r.random()
        if shape < 0.15:    # multi-line record: continuation lines
            doris = doris.replace(" FROM ", "\n  FROM ", 1).replace(" WHERE ", "\n WHERE ", 1)
        elif shape < 0.3:   # escaped newlines, unescaped by the dump
            doris = doris.replace(" FROM ", "\\n  FROM ", 1).replace(" WHERE ", "\\n\\tWHERE ", 1)
        state = "ERR" if r.random() < 0.05 else "OK"
        ts = _ts(base_s + i)
        rec = _record(ts, r.choice(clients), "tpch", state, r.randint(5, 900), rows,
                      qid, True, "SELECT", doris)
        f = i * REPLAY_FILES // REPLAY_STATEMENTS
        records.append((f, rec))
        expected[qid] = rows
        if r.random() < 0.05:  # the same record logged twice
            records.append((min(f + 1, REPLAY_FILES - 1), rec))
        if r.random() < 0.15:  # a non-query statement between queries
            noise = r.choice(["SHOW VARIABLES LIKE '%time_zone%'",
                              "INSERT INTO t_log VALUES (1, 'x')", "SET query_timeout = 600"])
            records.append((f, _record(ts, r.choice(clients), "tpch", "OK", 1, 0,
                                       f"{r.getrandbits(64):016x}-0", False, "OTHER", noise)))
    for f in range(REPLAY_FILES):  # a statement cut at audit_plugin_max_sql_length
        cut = ("SELECT o_orderkey FROM orders WHERE o_comment LIKE 'x... "
               "/* total 9000 rows, truncated audit_plugin_max_sql_length=4096 */")
        records.append((f, _record(_ts(base_s + REPLAY_STATEMENTS + f), clients[0], "tpch",
                                   "OK", 3, 0, f"{r.getrandbits(64):016x}-1", True,
                                   "SELECT", cut)))
    names = [f"fe.audit.log.20241016-{k + 1}" for k in range(REPLAY_FILES - 1)] + ["fe.audit.log"]
    for f, name in enumerate(names):
        with open(f"{out}/log/{name}", "w") as fh:
            fh.writelines(rec for g, rec in records if g == f)
    with open(f"{out}/expected.json", "w") as fh:
        json.dump({"rows": expected, "templates": kinds}, fh)
    _mark(out)


def _ts(sec):
    t = datetime.datetime.fromtimestamp(sec, datetime.timezone.utc)
    return t.strftime("%Y-%m-%d %H:%M:%S") + f",{sec % 1000:03d}"


# ---- gendata --------------------------------------------------------------

LINEITEM_DDL = """CREATE TABLE `lineitem` (
  `l_orderkey` bigint NOT NULL,
  `l_partkey` bigint NOT NULL,
  `l_suppkey` bigint NOT NULL,
  `l_linenumber` bigint NOT NULL,
  `l_quantity` decimal(15,2) NOT NULL,
  `l_extendedprice` decimal(15,2) NOT NULL,
  `l_discount` decimal(15,2) NOT NULL,
  `l_tax` decimal(15,2) NOT NULL,
  `l_returnflag` varchar(1) NOT NULL,
  `l_linestatus` varchar(1) NOT NULL,
  `l_shipdate` date NOT NULL,
  `l_commitdate` date NOT NULL,
  `l_receiptdate` date NOT NULL,
  `l_shipinstruct` varchar(25) NOT NULL,
  `l_shipmode` varchar(10) NOT NULL,
  `l_comment` varchar(44) NOT NULL,
  `x_dim` int NULL,
  `x_bool` boolean NULL,
  `x_double` double NULL,
  `x_datetime` datetime NULL,
  `x_json` json NULL,
  `x_arr` array<int> NULL,
  `x_map` map<varchar(8), int> NULL,
  `x_struct` struct<f1:bigint, f2:text> NULL
) ENGINE=OLAP DUPLICATE KEY(`l_orderkey`) DISTRIBUTED BY RANDOM BUCKETS AUTO"""

DIM_DDL = """CREATE TABLE `dim` (
  `d_key` int NOT NULL,
  `d_name` varchar(16) NULL
) ENGINE=OLAP DUPLICATE KEY(`d_key`) DISTRIBUTED BY RANDOM BUCKETS AUTO"""

# columns outside the stats get explicit rules, which the checks read back
# (x_datetime is pinned because the type default is relative to today)
GEN_NULL_FREQ = 0.2
GEN_DOUBLE_RANGE = (-1000.0, 1000.0)
GEN_REF_LIMIT = 500


def gendata(out):
    """DDL files and genconf. The lineitem columns take their rules from
    the collected stats; the x_* columns cover the remaining types, and
    x_dim draws from the generated dim table (a `ref` rule)."""
    if done(out):
        return
    _fresh(out)
    with open(f"{out}/lineitem.sql", "w") as fh:
        fh.write(LINEITEM_DDL)
    with open(f"{out}/dim.sql", "w") as fh:
        fh.write(DIM_DDL)
    lo, hi = GEN_DOUBLE_RANGE
    conf = f"""null_frequency: 0
tables:
  - name: dim
    row_count: {GEN_DIM_ROWS}
    columns:
      - {{name: d_key, gen: {{inc: 1, start: 1}}}}
  - name: lineitem
    row_count: {GEN_ROWS}
    columns:
      - {{name: x_dim, gen: {{ref: dim.d_key, limit: {GEN_REF_LIMIT}}}}}
      - {{name: x_double, min: {lo}, max: {hi}, null_frequency: {GEN_NULL_FREQ}}}
      - {{name: x_bool, null_frequency: {GEN_NULL_FREQ}}}
      - {{name: x_datetime, min: "2020-01-01 00:00:00", max: "2024-12-31 23:59:59"}}
"""
    with open(f"{out}/genconf.yaml", "w") as fh:
        fh.write(conf)
    _mark(out)


# ---- curation corpus ------------------------------------------------------

WORDS = ("spark query join table scan filter group window sort merge hash key value row "
         "column batch stream partition shuffle stage task driver executor plan cache index "
         "vector token shard bucket replica commit log segment page block buffer record field "
         "schema type cast null range limit offset order union except select insert update "
         "delete create drop alter view trigger cursor lock latch queue worker thread fiber "
         "signal socket packet frame header payload checksum digest cipher tensor kernel "
         "gradient weight layer epoch corpus document sentence paragraph chapter author "
         "editor reader writer river mountain forest valley desert island harbor bridge "
         "tower castle garden market village city country planet comet galaxy orbit moon "
         "sun cloud storm rain snow wind thunder season winter summer spring autumn morning "
         "evening night silver golden copper iron stone glass paper cotton wool silk amber "
         "crimson violet indigo scarlet quick slow bright dark quiet loud gentle fierce calm "
         "eager brave clever humble proud ancient modern simple complex hidden open narrow "
         "wide deep shallow early late first last north south east west").split()


def _doc(r):
    lines = []
    for _ in range(r.randint(1, 4)):
        n = r.randint(3, 16)  # short lines fall under the C4 min-words rule
        line = " ".join(r.choice(WORDS) for _ in range(n))
        lines.append(line.capitalize() + ("." if r.random() < 0.8 else ""))
    return "\n".join(lines)


def _near(r, text):
    """A near duplicate: one word in ~25 replaced (word 3-shingle Jaccard
    stays around 0.8)."""
    lines = []
    for line in text.split("\n"):
        ws = line.split(" ")
        for k in range(len(ws)):
            if r.random() < 0.04:
                ws[k] = r.choice(WORDS)
        lines.append(" ".join(ws))
    return "\n".join(lines)


def corpus(out, seed):
    """docs.parquet/ (doc_id, text, lang, source, n_chars; CORPUS_SHARDS
    files of consecutive doc_ids, as a sharded corpus is), probe.parquet
    (doc_id % 20 = 7) and expected.json with the planted near-dup pairs."""
    if done(out):
        return
    _fresh(out)
    r = random.Random(seed)
    docs = []
    near_pairs = []
    while len(docs) < CORPUS_DOCS:
        i = len(docs)
        roll = r.random()
        if i > 10 and roll < EXACT_DUP_FRAC:     # same fingerprint: case/space only
            src = docs[r.randrange(i)][1]
            docs.append((i, src.upper().replace(" ", "  ", 2)))
        elif i > 10 and roll < EXACT_DUP_FRAC + NEAR_DUP_FRAC:
            j = r.randrange(i)
            docs.append((i, _near(r, docs[j][1])))
            near_pairs.append([j, i])
        else:
            docs.append((i, _doc(r)))
    con = connect()
    table = pa.table({"doc_id": pa.array([i for i, _ in docs], pa.int64()),
                      "text": [t for _, t in docs],
                      "lang": ["en"] * len(docs),
                      "source": [f"src{i % 7}" for i, _ in docs],
                      "n_chars": pa.array([len(t) for _, t in docs], pa.int64())})
    con.register("docs", table)
    os.makedirs(f"{out}/docs.parquet")
    for k in range(CORPUS_SHARDS):
        con.execute(f"COPY (SELECT * FROM docs WHERE doc_id * {CORPUS_SHARDS} // {len(docs)} = {k} "
                    f"ORDER BY doc_id) TO '{out}/docs.parquet/part-{k}.parquet' "
                    f"(FORMAT parquet, ROW_GROUP_SIZE 4096)")
    con.execute(f"COPY (SELECT * FROM docs WHERE doc_id % {PROBE_MOD} = {PROBE_REM} "
                f"ORDER BY doc_id) TO '{out}/probe.parquet' (FORMAT parquet)")
    with open(f"{out}/expected.json", "w") as fh:
        json.dump({"docs": len(docs), "near_pairs": near_pairs}, fh)
    _mark(out)

"""Output checks, made with DuckDB and plain Python against the generated
inputs -- independent of the program under test.

Each check function returns a list of (name, ok, detail) and a dict of
witness counts. A check that fails makes the run incorrect.
"""
import glob
import hashlib
import json
import os

import gen

# recall probe: planted near-dup pairs with exact Jaccard >= NEAR_PROBE_J,
# which the verb's MinHash-LSH (16 bands of 4) finds with p >= 0.988 each
NEAR_PROBE_J = 0.7
NEAR_RECALL_FLOOR = 0.9
NEAR_PROBE_PAIRS = 400     # at most this many probed
NEAR_PROBE_MIN = 30        # and at least this many, or the probe proves nothing
PRECISION_PROBE_PAIRS = 200
NEARDUP_THRESHOLD = 0.5    # the pipeline verb's default
NULL_RATE_TOLERANCE = 0.01


def _result_rows(result_dir):
    rows = {}
    for f in sorted(glob.glob(os.path.join(result_dir, "*.result"))):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    r = json.loads(line)
                    rows[r["queryId"]] = r
    return rows


def replay(inputs, work, passes):
    expected = json.load(open(os.path.join(inputs, "replay", "expected.json")))["rows"]
    out = []
    bad_rows = 0
    for label in ("first", "last"):
        d = os.path.join(work, "results", label)
        if label == "last" and not os.path.isdir(d):  # no warm pass ran
            continue
        got = _result_rows(d)
        out.append((f"replay.{label}.statements", set(got) == set(expected),
                    f"{len(got)} replayed, {len(expected)} expected"))
        wrong = [q for q, r in got.items()
                 if r.get("err") or r.get("returnRows") != expected.get(q)]
        bad_rows += len(wrong)
        out.append((f"replay.{label}.rows_match_duckdb", not wrong,
                    f"{len(wrong)} statement(s) differ, e.g. {wrong[:3]}"))
    errs = sum(p["facts"]["errors"] for p in passes)
    mism = sum(p["facts"]["diff_mismatches"] for p in passes)
    out.append(("replay.errors", errs == 0, f"{errs} statement error(s)"))
    out.append(("replay.diff_mismatches", mism == 0, f"{mism} mismatch(es) against the first pass"))
    records = 0
    for f in glob.glob(os.path.join(inputs, "replay", "log", "*")):
        with open(f) as fh:
            records += sum(1 for line in fh if line[:4].isdigit() and line[4:5] == "-")
    return out, {"failed_ops": errs + mism + bad_rows, "diff_mismatches": mism,
                 "audit_records": records}


def _csv_lines(d):
    """One VARCHAR column per CSV line (the '☆' separator is multi-byte,
    which DuckDB's CSV reader does not take, so fields are split here)."""
    return (f"read_csv('{d}/*.csv', columns={{'line': 'VARCHAR'}}, delim=chr(1), "
            f"quote='', escape='', header=false, auto_detect=false)")


def gendata(inputs, work, digest_dir, seed, tpch_dir):
    con = gen.connect()
    out_dir = os.path.join(work, "gendata")
    li, dim = os.path.join(out_dir, "lineitem"), os.path.join(out_dir, "dim")
    cols = [line.strip().split("`")[1] for line in gen.LINEITEM_DDL.splitlines()[1:]
            if line.strip().startswith("`")]
    pos = {c: i + 1 for i, c in enumerate(cols)}
    con.execute(f"CREATE TABLE g AS SELECT string_split(line, '☆') AS f FROM {_csv_lines(li)}")
    out = []
    n = con.execute("SELECT count(*) FROM g").fetchone()[0]
    out.append(("gendata.lineitem.rows", n == gen.GEN_ROWS, f"{n} rows, {gen.GEN_ROWS} expected"))
    nd = con.execute(f"SELECT count(*) FROM {_csv_lines(dim)}").fetchone()[0]
    out.append(("gendata.dim.rows", nd == gen.GEN_DIM_ROWS, f"{nd} rows"))
    width = con.execute("SELECT min(len(f)), max(len(f)) FROM g").fetchone()
    out.append(("gendata.lineitem.columns", width == (len(cols), len(cols)), f"{width}"))

    def field(c, cast):
        return f"TRY_CAST(NULLIF(f[{pos[c]}], '\\N') AS {cast})"

    # stats-driven columns: NOT NULL, and within the collected min/max. A
    # DECIMAL rule bounds the integer part only (the fraction is drawn
    # separately, as in the reference generator), so those compare floors.
    src = f"read_parquet('{tpch_dir}/lineitem.parquet')"
    for c, cast, wrap in [("l_orderkey", "BIGINT", ""), ("l_quantity", "DECIMAL(15,2)", "floor"),
                          ("l_discount", "DECIMAL(15,2)", "floor"), ("l_shipdate", "DATE", ""),
                          ("l_receiptdate", "DATE", "")]:
        lo, hi = con.execute(f"SELECT {wrap}(min({c})), {wrap}(max({c})) FROM {src}").fetchone()
        glo, ghi, nulls = con.execute(
            f"SELECT {wrap}(min({field(c, cast)})), {wrap}(max({field(c, cast)})), "
            f"count(*) - count({field(c, cast)}) FROM g").fetchone()
        ok = nulls == 0 and glo is not None and lo <= glo and ghi <= hi
        out.append((f"gendata.{c}.range", ok, f"[{glo}, {ghi}] in [{lo}, {hi}], {nulls} null"))
    # custom rules: null rate and bounds
    lo, hi = gen.GEN_DOUBLE_RANGE
    for c, cast in [("x_double", "DOUBLE"), ("x_bool", "INTEGER")]:
        rate = con.execute(f"SELECT avg(CASE WHEN f[{pos[c]}] = '\\N' THEN 1.0 ELSE 0 END) "
                           f"FROM g").fetchone()[0]
        ok = abs(rate - gen.GEN_NULL_FREQ) <= NULL_RATE_TOLERANCE
        out.append((f"gendata.{c}.null_rate", ok, f"{rate:.4f} vs {gen.GEN_NULL_FREQ}"))
    dlo, dhi = con.execute(f"SELECT min({field('x_double', 'DOUBLE')}), "
                           f"max({field('x_double', 'DOUBLE')}) FROM g").fetchone()
    out.append(("gendata.x_double.range", lo <= dlo and dhi <= hi, f"[{dlo}, {dhi}]"))
    klo, khi, kd, kn = con.execute(
        f"SELECT min({field('x_dim', 'INTEGER')}), max({field('x_dim', 'INTEGER')}), "
        f"count(DISTINCT {field('x_dim', 'INTEGER')}), count(*) - count({field('x_dim', 'INTEGER')}) "
        f"FROM g").fetchone()
    ok = kn == 0 and 1 <= klo and khi <= gen.GEN_DIM_ROWS and 2 <= kd <= gen.GEN_REF_LIMIT
    out.append(("gendata.x_dim.ref", ok, f"[{klo}, {khi}], {kd} distinct, {kn} null"))
    # same seed, same content: an order-independent digest of the lines
    digest = str(con.execute(
        f"SELECT sum(hash(line)::HUGEINT) FROM "
        f"(SELECT line FROM {_csv_lines(li)} UNION ALL "
        f"SELECT line FROM {_csv_lines(dim)})").fetchone()[0])
    os.makedirs(digest_dir, exist_ok=True)
    conf = open(os.path.join(inputs, "gendata", "genconf.yaml"), "rb").read()
    tag = hashlib.sha256(conf + gen.LINEITEM_DDL.encode() + str(gen.TPCH_SF).encode()).hexdigest()
    path = os.path.join(digest_dir, f"gendata-{seed}-{tag[:12]}.txt")
    if os.path.exists(path):
        prev = open(path).read().strip()
        out.append(("gendata.digest_repeats", prev == digest, f"{digest} vs earlier {prev}"))
    else:
        with open(path, "w") as fh:
            fh.write(digest)
    files = glob.glob(os.path.join(out_dir, "*", "*.csv"))
    return out, {"files": len(files),
                 "output_mb": sum(os.path.getsize(f) for f in files) / 1048576.0,
                 "generated_rows": n + nd}


def _shingles(text, n=3):
    toks = text.lower().split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a, b):
    sa, sb = _shingles(a), _shingles(b)
    if not sa or not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


def curation(inputs, work):
    con = gen.connect()
    c = os.path.join(work, "curation")
    docs = f"read_parquet('{inputs}/corpus/docs.parquet/*.parquet')"
    probe = f"read_parquet('{inputs}/corpus/probe.parquet')"

    def pq(stage):
        return f"read_parquet('{c}/{stage}/*.parquet')"
    out = []
    n_docs, n_lines = con.execute(
        f"SELECT count(*), sum(len(string_split(text, chr(10)))) FROM {docs}").fetchone()
    got = con.execute(f"SELECT count(*), sum(n_lines) FROM {pq('clean')}").fetchone()
    out.append(("curation.clean.counts", got == (n_docs, n_lines),
                f"{got} vs ({n_docs}, {n_lines})"))
    con.execute(f"CREATE TABLE keep AS SELECT min(doc_id) AS id FROM {docs} GROUP BY "
                f"md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))")
    con.execute(f"CREATE TABLE dedup AS SELECT doc_id AS id FROM {pq('dedup')}")
    diff = con.execute("SELECT (SELECT count(*) FROM (SELECT id FROM keep EXCEPT ALL "
                       "SELECT id FROM dedup)) + (SELECT count(*) FROM (SELECT id FROM dedup "
                       "EXCEPT ALL SELECT id FROM keep))").fetchone()[0]
    n_keep = con.execute("SELECT count(*) FROM keep").fetchone()[0]
    out.append(("curation.dedup.ids", diff == 0, f"{diff} id(s) differ of {n_keep}"))
    # near-dup recall against the planted pairs, with an exact Jaccard probe
    texts = dict(con.execute(f"SELECT doc_id, text FROM {docs}").fetchall())
    kept = {i for (i,) in con.execute("SELECT id FROM keep").fetchall()}
    pairs = {(i, j) for i, j in con.execute(f"SELECT i, j FROM {pq('neardup')}").fetchall()}
    planted = json.load(open(f"{inputs}/corpus/expected.json"))["near_pairs"]
    probe_pairs = [(a, b) for a, b in planted if a in kept and b in kept
                   and jaccard(texts[a], texts[b]) >= NEAR_PROBE_J][:NEAR_PROBE_PAIRS]
    found = sum((min(a, b), max(a, b)) in pairs for a, b in probe_pairs)
    recall = found / len(probe_pairs) if probe_pairs else 0.0
    out.append(("curation.neardup.recall",
                recall >= NEAR_RECALL_FLOOR and len(probe_pairs) >= NEAR_PROBE_MIN,
                f"{found}/{len(probe_pairs)} = {recall:.3f}"))
    sample = sorted(pairs)[:PRECISION_PROBE_PAIRS]
    low = [p for p in sample if jaccard(texts[p[0]], texts[p[1]]) < NEARDUP_THRESHOLD - 1e-9]
    out.append(("curation.neardup.precision", not low, f"{len(low)} pair(s) below threshold"))
    # connected components of the near-dup pairs, by union-find
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for i, j in pairs:
        parent[find(i)] = find(j)
    nodes = len(parent)
    comps = len({find(x) for x in list(parent)})
    got = con.execute(f"SELECT count(*), count(DISTINCT lbl) FROM {pq('cluster')}").fetchone()
    out.append(("curation.cluster.components", got == (nodes, comps),
                f"{got} vs ({nodes}, {comps})"))
    # every probe doc that survives dedup contaminates itself
    missing = con.execute(
        f"SELECT count(*) FROM {probe} p JOIN keep k ON p.doc_id = k.id WHERE NOT EXISTS "
        f"(SELECT 1 FROM {pq('decontaminate')} d WHERE d.train_id = p.doc_id "
        f"AND d.eval_id = p.doc_id)").fetchone()[0]
    out.append(("curation.decontaminate.self_pairs", missing == 0, f"{missing} missing"))
    unit = "CAST('0x' || substr(md5('graft-split:' || CAST(id AS VARCHAR)), 1, 8) AS UBIGINT) / 4294967296.0"
    want = dict(con.execute(
        f"SELECT CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END, "
        f"count(*) FROM (SELECT {unit} AS u FROM keep) GROUP BY 1").fetchall())
    have = dict(con.execute(f"SELECT split, count(*) FROM {pq('split')} GROUP BY 1").fetchall())
    out.append(("curation.split.counts", want == have, f"{have} vs {want}"))
    return out, {"docs": n_docs, "neardup_pairs": len(pairs), "components": comps}

"""Checks a run's outputs apart from the program, with DuckDB and plain Python.

Nothing here calls graft: the feature spec, the shingling and the Jaccard
threshold are restated from the method's definition, and every expected
value is recomputed from the generated inputs. Nothing is compared with a
stored copy of an earlier output. (The planted-pair recall check runs on
the JVM side, as an operation of its own: RecallProbe in
scala/Workloads.scala.)
"""

import random

import duckdb

WINDOWS = [7, 14, 21, 30, 90, 180, 360, 720]
TRX_TYPES = [
    "food-and-household", "home", "uncategorized", "leisure-and-lifestyle",
    "health-and-beauty", "shopping-and-services", "children", "vacation-and-travel",
    "education", "insurance", "investments-and-savings", "expenses-and-other",
    "cars-and-transportation",
]
FAMILIES = [("card_type", ["DC", "CC"]), ("channel", ["mobile", "web"])]
AGGS = ["count", "avg", "sum", "min", "max"]
SAMPLE_CUSTOMERS = 8

# Dedup.minhashPairs' default Jaccard threshold, restated.
MIN_JACCARD = 0.5


def tuples():
    """(family index, first value, trx_type) in the spec's column order."""
    return [(fi, v, t) for fi, (_, vals) in enumerate(FAMILIES) for v in vals for t in TRX_TYPES]


def feature_names():
    return ["%s_%s_%dd_%s" % (v, t, w, a) for _, v, t in tuples() for w in WINDOWS for a in AGGS]


def parquet(path):
    return "read_parquet('%s/**/*.parquet', hive_partitioning = false)" % path


def q(name):
    return '"%s"' % name


def check(workload, res, seed):
    """Returns the list of problems found; empty means correct."""
    problems = []
    for action, counts in res["row_counts"].items():
        if len(set(counts)) > 1:
            problems.append("%s returned different row counts across rounds: %s" % (action, counts))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    try:
        if workload.startswith("fs_"):
            problems += check_feature_store(con, res["check"], seed)
        else:
            problems += check_dedup(con, res["check"], res["row_counts"])
    finally:
        con.close()
    return problems


def check_feature_store(con, info, seed):
    problems = []
    names = feature_names()
    inp, auto, fixed = parquet(info["input"]), parquet(info["auto"]), parquet(info["fixed"])

    n_in, n_cust = con.execute(
        "SELECT count(*), count(DISTINCT customer_id) FROM %s" % inp).fetchone()
    if n_in != int(info["expected_rows"]):
        problems.append("input has %d rows, the generator promised %s" % (n_in, info["expected_rows"]))
    for label, src in (("auto", auto), ("aggregator", fixed)):
        cols = [r[0] for r in con.execute("DESCRIBE SELECT * FROM %s" % src).fetchall()]
        if cols != ["customer_id"] + names:
            problems.append("%s store does not have the 2,081 reference columns in order" % label)
            return problems
        rows, keys = con.execute(
            "SELECT count(*), count(DISTINCT customer_id) FROM %s" % src).fetchone()
        if rows != keys or rows != n_cust:
            problems.append("%s store has %d rows for %d keys; input has %d customers"
                            % (label, rows, keys, n_cust))

    for a, b in ((auto, fixed), (fixed, auto)):
        extra = con.execute(
            "SELECT count(*) FROM (SELECT * FROM %s EXCEPT ALL SELECT * FROM %s)" % (a, b)).fetchone()[0]
        if extra:
            problems.append("auto and aggregator stores differ in %d rows" % extra)

    con.execute("CREATE TEMP TABLE store AS SELECT * FROM %s" % auto)
    problems += window_properties(con, names)
    problems += recompute_sample(con, inp, seed, names)
    return problems


def window_properties(con, names):
    """Properties every row must have, checked on every row."""
    problems = []
    mono, avg_sum = [], []
    for _, v, t in tuples():
        col = lambda w, a: q("%s_%s_%dd_%s" % (v, t, w, a))
        for w1, w2 in zip(WINDOWS, WINDOWS[1:]):
            mono.append("%s > %s" % (col(w1, "count"), col(w2, "count")))
            mono.append("%s > %s" % (col(w1, "sum"), col(w2, "sum")))
            mono.append("(%s IS NOT NULL AND (%s IS NULL OR %s > %s))"
                        % (col(w1, "min"), col(w2, "min"), col(w2, "min"), col(w1, "min")))
            mono.append("(%s IS NOT NULL AND (%s IS NULL OR %s < %s))"
                        % (col(w1, "max"), col(w2, "max"), col(w2, "max"), col(w1, "max")))
        for w in WINDOWS:
            c, s, a = col(w, "count"), col(w, "sum"), col(w, "avg")
            avg_sum.append("(%s = 0 AND (%s IS NOT NULL OR %s <> 0)) OR (%s > 0 AND "
                           "(%s IS NULL OR abs(%s * %s - %s) > 1e-9 * %s))" % (c, a, s, c, a, a, c, s, s))
    for label, conds in (("window monotonicity", mono), ("avg x count = sum", avg_sum)):
        bad = con.execute("SELECT count(*) FROM store WHERE %s" % " OR ".join(conds)).fetchone()[0]
        if bad:
            problems.append("%s fails on %d rows" % (label, bad))
    return problems


def recompute_sample(con, inp, seed, names):
    """Every feature of a seeded sample of customers, recomputed from the
    input: DuckDB groups the rows into (customer, family values, t_minus)
    cells, and a plain fold rolls the cells up into the windows. Amounts
    are on a 1/1024 grid, so every sum is exact and compared exactly."""
    problems = []
    keys = [r[0] for r in con.execute("SELECT customer_id FROM store ORDER BY 1").fetchall()]
    sample = sorted(random.Random(seed).sample(keys, min(SAMPLE_CUSTOMERS, len(keys))))
    in_list = ",".join(str(k) for k in sample)
    cells = con.execute(
        "SELECT customer_id, card_type, channel, trx_type, t_minus, count(*), sum(trx_amnt), "
        "min(trx_amnt), max(trx_amnt) FROM %s WHERE customer_id IN (%s) GROUP BY ALL"
        % (inp, in_list)).fetchall()
    acc = {}
    for cust, card, chan, trx, t_minus, n, s, lo, hi in cells:
        for fi, v in ((0, card), (1, chan)):
            for w in WINDOWS:
                if t_minus <= w:
                    a = acc.setdefault((cust, v, trx, w), [0, 0.0, None, None])
                    a[0] += n
                    a[1] += s
                    a[2] = lo if a[2] is None else min(a[2], lo)
                    a[3] = hi if a[3] is None else max(a[3], hi)
    # The same totals per family, counted by a second reader.
    in_720 = dict(con.execute(
        "SELECT customer_id, count(*) FROM %s WHERE t_minus <= 720 GROUP BY 1" % inp).fetchall())
    fam_720 = {}
    stored = con.execute("SELECT * FROM store WHERE customer_id IN (%s) ORDER BY 1" % in_list).fetchall()
    for row in stored:
        cust, values = row[0], dict(zip(names, row[1:]))
        for fi, v, t in tuples():
            for w in WINDOWS:
                n, s, lo, hi = acc.get((cust, v, t, w), [0, 0.0, None, None])
                want = {"count": n, "sum": s, "avg": s / n if n else None, "min": lo, "max": hi}
                for agg in AGGS:
                    got = values["%s_%s_%dd_%s" % (v, t, w, agg)]
                    if got != want[agg]:
                        problems.append("customer %d %s_%s_%dd_%s: store %r, recomputed %r"
                                        % (cust, v, t, w, agg, got, want[agg]))
            fam_720[(cust, fi)] = fam_720.get((cust, fi), 0) + values["%s_%s_720d_count" % (v, t)]
    if len(stored) != len(sample):
        problems.append("store lacks sampled customers")
    for (cust, fi), total in sorted(fam_720.items()):
        if total != in_720.get(cust, 0):
            problems.append("customer %d family %d: 720-day counts total %d, input has %d rows"
                            % (cust, fi, total, in_720.get(cust, 0)))
    # The 720-day totals on every row, not only the sample.
    for fi, (_, vals) in enumerate(FAMILIES):
        total = " + ".join(q("%s_%s_720d_count" % (v, t)) for v in vals for t in TRX_TYPES)
        bad = con.execute(
            "SELECT count(*) FROM store s LEFT JOIN (SELECT customer_id, count(*) AS n FROM %s "
            "WHERE t_minus <= 720 GROUP BY 1) i USING (customer_id) WHERE %s <> coalesce(i.n, 0)"
            % (inp, total)).fetchone()[0]
        if bad:
            problems.append("family %d: 720-day count totals differ from the input on %d rows" % (fi, bad))
    return problems[:20]


def shingles(text):
    toks = text.split(" ")
    return {" ".join(toks[i:i + 3]) for i in range(max(len(toks) - 2, 1))}


def jaccard(a, b):
    return len(a & b) / len(a | b)


def check_dedup(con, info, row_counts):
    problems = []
    docs = dict(con.execute("SELECT doc_id, text FROM %s UNION ALL SELECT doc_id, text FROM %s"
                            % (parquet(info["corpus"]), parquet(info["shard"]))).fetchall())
    if len(docs) != int(info["docs"]):
        problems.append("corpus and shard hold %d documents, expected %s" % (len(docs), info["docs"]))
    shard = {r[0] for r in con.execute("SELECT doc_id FROM %s" % parquet(info["shard"])).fetchall()}
    if set(row_counts.get("index_build", [])) != {len(docs) - len(shard)}:
        problems.append("index rows %s differ from the %d corpus documents"
                        % (row_counts.get("index_build"), len(docs) - len(shard)))
    pairs = con.execute("SELECT id_a, id_b, jaccard FROM %s" % parquet(info["pairs"])).fetchall()
    seen = set()
    for a, b, j in pairs:
        if not a < b or (a, b) in seen:
            problems.append("pair (%d, %d) is repeated or not ordered" % (a, b))
        seen.add((a, b))
        exact = jaccard(shingles(docs[a]), shingles(docs[b]))
        if exact < MIN_JACCARD or abs(exact - j) > 1e-12:
            problems.append("pair (%d, %d): reported Jaccard %r, recomputed %r" % (a, b, j, exact))

    # Incremental ingest equals from-scratch dedup: the shard minus every
    # shard document that is the higher id of a whole-corpus pair.
    kept = {r[0] for r in con.execute("SELECT doc_id FROM %s" % parquet(info["kept"])).fetchall()}
    want = shard - {b for _, b in seen if b in shard}
    if kept != want:
        problems.append("ingest kept %d documents, from-scratch pairs say %d (%d differ)"
                        % (len(kept), len(want), len(kept ^ want)))
    return problems[:20]

"""End-to-end soundness fuzz of the PRUNED READ path (VERDICT r5 Next #1).

The existing test_predicate_fuzz.py exercises the predicate parser and the
single fuzz table; this suite drives random predicate trees through the
WHOLE pipeline — SQL text -> DNF translation -> OTree cube pruning +
per-file column stats / Bloom skipping -> residual — over tables WRITTEN
at several cube sizes and index-column mixes (numeric, timestamp, string,
nullable), in one- and two-revision layouts, and asserts row-for-row
equality with a plain-Spark read of the same rows: COUNT plus an
order-free xxhash64 checksum over every column, not just a row count.

Soundness contract under test (mirrors the reference's oracle-equality
test, QbeastFilterPushdownTest.scala:46-56): pruning may WIDEN the file
set (unparseable leaves degrade to residual-only) but must never drop a
matching row. A pruning-rate tally guards against the degenerate pass
where nothing ever parses and every read is a full scan.

Case count: 3 configs x QBEAST_FUZZ_CASES (default 100) = 300 cases per
run of the main soundness test, plus the derived lanes' scaled counts.
Seeds are fixed per config and every failure message carries the
predicate text, so any found bug replays deterministically. The default
was 350 through r11; the driver's single-process suite run overran its
budget and was cut off mid-suite (VERDICT r11 "What's wrong #1"), and
this file alone was 27% of the suite's 41 minutes. 100 keeps every
predicate shape exercised per config each run; deep sweeps set
QBEAST_FUZZ_CASES=350 (or higher) explicitly.
"""

import os
import random

import pytest
from pyspark.sql import functions as F

from conftest import load

N_CASES = int(os.environ.get("QBEAST_FUZZ_CASES", "100"))

# (name, cube_size, columns_to_index, seed, two_revisions)
CONFIGS = [
    ("deep_numeric", 150, ["l_orderkey", "l_extendedprice"], 20260816, True),
    ("ts_string", 800, ["l_shipdate", "l_returnflag"], 20260817, False),
    ("wide", 700, ["l_orderkey", "l_shipdate"], 20260818, False),
]

_NUM_COLS = [("l_orderkey", [0, 17, 300, 1500, 3000, 60000]),
             ("l_extendedprice", [900.0, 20000.5, 55000.0, 104949.5]),
             ("l_quantity", [1.0, 13.0, 25.0, 50.0]),
             ("lo_null", [0, 40, 700, 1499])]
_STR_COLS = [("l_returnflag", ["A", "N", "R", "ZZ"]),
             ("rf_null", ["A", "N", "R", "ZZ"])]
_TS_VALS = ["1992-02-01 00:00:00", "1994-06-17 12:30:00",
            "1996-01-01 00:00:00", "1997-09-09 23:59:59",
            "1998-12-01 00:00:00"]


def _leaf(rng):
    kind = rng.randrange(10)
    if kind < 5:                                    # numeric
        col, vals = rng.choice(_NUM_COLS)
        v = rng.choice(vals)
        k = rng.randrange(6)
        if k == 0:
            return f"{col} {rng.choice(['<', '<=', '>', '>='])} {v}"
        if k == 1:
            return f"{col} = {v}"
        if k == 2:
            return f"{col} != {v}"
        if k == 3:
            lo, hi = sorted(rng.sample(vals, 2))
            return f"{col} BETWEEN {lo} AND {hi}"
        if k == 4:
            picks = rng.sample(vals, min(3, len(vals)))
            return f"{col} IN ({', '.join(str(p) for p in picks)})"
        return f"{col} IS {'NOT ' if rng.random() < 0.5 else ''}NULL"
    if kind < 8:                                    # string
        col, vals = rng.choice(_STR_COLS)
        k = rng.randrange(4)
        if k == 0:
            return f"{col} = '{rng.choice(vals)}'"
        if k == 1:
            return f"{col} != '{rng.choice(vals)}'"
        if k == 2:
            picks = rng.sample(vals, rng.randrange(1, 4))
            return f"{col} IN ({', '.join(repr(p) for p in picks)})"
        return f"{col} IS {'NOT ' if rng.random() < 0.5 else ''}NULL"
    # timestamp
    k = rng.randrange(3)
    if k == 0:
        return (f"l_shipdate {rng.choice(['<', '<=', '>', '>='])} "
                f"TIMESTAMP '{rng.choice(_TS_VALS)}'")
    if k == 1:
        lo, hi = sorted(rng.sample(_TS_VALS, 2))
        return (f"l_shipdate BETWEEN TIMESTAMP '{lo}' "
                f"AND TIMESTAMP '{hi}'")
    return f"l_shipdate = TIMESTAMP '{rng.choice(_TS_VALS)}'"


def _tree(rng, depth):
    if depth == 0 or rng.random() < 0.3:
        node = _leaf(rng)
    else:
        op = rng.choice([" AND ", " OR "])
        node = "(" + op.join(_tree(rng, depth - 1)
                             for _ in range(rng.randrange(2, 4))) + ")"
    if rng.random() < 0.25:
        node = f"NOT {node}"
    return node


def _base_frame(spark):
    """lineitem + deterministic null injection: lo_null / rf_null carry
    ~5% nulls keyed off a hash, so IS NULL / null-in-range shapes hit
    real nulls while the frame stays reproducible across runs."""
    li = load(spark, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_quantity",
        "l_shipdate", "l_returnflag")
    bucket = F.pmod(F.xxhash64("l_orderkey", "l_extendedprice"), F.lit(20))
    return (li
            .withColumn("lo_null", F.when(bucket != 0, F.col("l_orderkey")))
            .withColumn("rf_null",
                        F.when(bucket != 1, F.col("l_returnflag"))))


def _checksum_exprs(cols):
    # NUL-coalesced string casts make the hash null-sensitive and
    # type-uniform on both sides (timestamp_ntz renders identically);
    # pmod bounds the per-row term so the ANSI-mode SUM cannot overflow
    # (6k rows x 2^31 << 2^63) while any differing row still shifts the
    # total except with ~2^-31 probability
    h = F.pmod(
        F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                     for c in cols]),
        F.lit(2 ** 31))
    return [F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")]


@pytest.fixture(scope="module", params=CONFIGS, ids=[c[0] for c in CONFIGS])
def fuzz_setup(request, spark, tmp_path_factory):
    import qbeast_spark_spark as qss

    name, cube_size, index_cols, seed, two_revs = request.param
    base = _base_frame(spark)
    path = str(tmp_path_factory.mktemp(f"e2e_{name}") / "t")
    if two_revs:
        # two commits = two revisions: pruning must union per-revision
        # candidate sets, the layout a long-lived appended table has
        half = F.pmod(F.col("l_orderkey"), F.lit(2))
        qss.write(base.where(half == 0), path,
                  columns_to_index=index_cols, cube_size=cube_size)
        qss.write(base.where(half == 1), path,
                  columns_to_index=index_cols, cube_size=cube_size,
                  mode="append")
    else:
        qss.write(base, path, columns_to_index=index_cols,
                  cube_size=cube_size)
    cols = sorted(base.columns)
    expected_src = base.persist()
    expected_src.count()
    yield name, path, expected_src, cols, seed
    expected_src.unpersist()


def test_pruned_read_equals_plain_spark(spark, fuzz_setup):
    import qbeast_spark_spark as qss
    from qbeast_spark_spark.sources.predicates import to_dnf_filters
    from qbeast_spark_spark.sources.reader import prune_files

    name, path, base, cols, seed = fuzz_setup
    qt = qss.QbeastTable.for_path(spark, path)
    snap = qt.snapshot(refresh=True)
    n_files = len(snap.files)
    assert n_files > 1, "fuzz table must span multiple files"
    rng = random.Random(seed)
    chk = _checksum_exprs(cols)
    rev_cols = [c.name for c in
                snap.revisions[max(snap.revisions)].column_specs]
    w03 = __import__("qbeast_spark_spark.core.weight",
                     fromlist=["fraction_to_weight"]).fraction_to_weight(0.3)
    parsed = pruned = 0
    for i in range(N_CASES):
        q = _tree(rng, 3)
        want = base.where(q).agg(*chk).collect()[0]
        got = qt.read(q).agg(*chk).collect()[0]
        assert (got.n, got.h) == (want.n, want.h), \
            f"[{name} seed={seed} case={i}] {q}"
        if i % 5 == 0:
            # composed sampling + filter soundness (the surface the
            # golden-fixture parity test caught a real bug in): the
            # weight-range row filter over pruned files must equal the
            # plain hash inequality over a plain filtered read
            w_s = (base.where(q)
                   .where(F.hash(*rev_cols) < w03).agg(*chk).collect()[0])
            g_s = qt.sample(0.3, filters=q).agg(*chk).collect()[0]
            assert (g_s.n, g_s.h) == (w_s.n, w_s.h), \
                f"[{name} seed={seed} case={i} SAMPLE] {q}"
        if i % 10 == 0:
            # prune_scan soundness (the SQL surface's WHERE lift): the
            # residual-free pruned file list + the re-applied predicate
            # must be exactly the filtered read — an over-pruned list
            # would silently drop rows from qsql statements
            g_p = (qt.prune_scan(q).where(F.expr(q))
                   .agg(*chk).collect()[0])
            assert (g_p.n, g_p.h) == (want.n, want.h), \
                f"[{name} seed={seed} case={i} PRUNE_SCAN] {q}"
        # pruning-rate tally: measured through the same translation the
        # read used, without a second scan
        dnf = to_dnf_filters(q)
        if dnf is not None:
            parsed += 1
            selected = set()
            for conj in dnf:
                selected.update(prune_files(snap, conj))
            if len(selected) < n_files:
                pruned += 1
    # guard against the degenerate "everything is residual-only" pass:
    # the grammar is built from indexed/stats-covered columns, so a
    # healthy translator parses most trees and prunes a decent share
    assert parsed >= N_CASES * 0.5, (parsed, N_CASES)
    # >=10%: deep OR-heavy trees legitimately match every file, and a
    # coarse layout (cube_size 800+ over 6k rows) has few files to cut
    assert pruned >= parsed * 0.1, (pruned, parsed)


def test_pruned_read_after_dml_equals_plain_spark(spark,
                                                  tmp_path_factory):
    """The fuzz grammar driven over a DML-MUTATED table: a deletion-
    vector delete, a rewrite delete, and an update have all touched the
    files, so every read composes cube/stats pruning + DV row masking +
    rewritten-file contents + the residual. Expected side is the same
    mutations applied to the plain frame."""
    import qbeast_spark_spark as qss

    base = _base_frame(spark)
    path = str(tmp_path_factory.mktemp("e2e_dml") / "t")
    qss.write(base, path, columns_to_index=["l_orderkey",
                                            "l_extendedprice"],
              cube_size=500)
    qt = qss.QbeastTable.for_path(spark, path)
    qt.delete([("l_orderkey", "<", 120)], mode="dv")
    qt.delete([("l_orderkey", ">=", 1400)], mode="rewrite")
    qt.update({"l_quantity": "l_quantity + 100"},
              [("l_extendedprice", "<", 2000.0)])
    expected = (base
                .where(~(F.col("l_orderkey") < 120))
                .where(~(F.col("l_orderkey") >= 1400))
                .withColumn("l_quantity",
                            F.when(F.col("l_extendedprice") < 2000.0,
                                   F.col("l_quantity") + 100)
                            .otherwise(F.col("l_quantity"))))
    cols = sorted(base.columns)
    chk = _checksum_exprs(cols)
    rng = random.Random(20260819)
    n_cases = max(50, N_CASES // 3)
    for i in range(n_cases):
        q = _tree(rng, 3)
        want = expected.where(q).agg(*chk).collect()[0]
        got = qt.read(q).agg(*chk).collect()[0]
        assert (got.n, got.h) == (want.n, want.h), \
            f"[dml seed=20260819 case={i}] {q}"


def test_pyds_where_lane_equals_plain_spark(spark, tmp_path_factory):
    """The same random predicate grammar through the Python Data Source
    lane, driven as documented (pyds.py module docstring): option("where")
    is a WIDENING pruning hint planned without a SparkSession, paired
    with a regular .where(q) for row exactness. Soundness contract:
    pruning may keep extra files but the composed read must equal plain
    Spark row for row — catches planner drift the fixed-predicate oracle
    probe (qb_range_read_pyds) cannot. A tally asserts the hint really
    prunes (fewer input files) on a healthy share of translatable
    predicates rather than degenerating to full scans."""
    import qbeast_spark_spark as qss
    from qbeast_spark_spark.sources.pyds import register

    register(spark)
    base = _base_frame(spark)
    path = str(tmp_path_factory.mktemp("e2e_pyds") / "t")
    qss.write(base, path,
              columns_to_index=["l_orderkey", "l_shipdate"],
              cube_size=600)
    qt = qss.QbeastTable.for_path(spark, path)
    snap = qt.snapshot(refresh=True)
    n_files = len(snap.files)
    assert n_files > 1
    from qbeast_spark_spark.sources.predicates import to_dnf_filters
    from qbeast_spark_spark.sources.reader import prune_files

    cols = sorted(base.columns)
    chk = _checksum_exprs(cols)
    rng = random.Random(20260820)
    n_cases = max(30, N_CASES // 10)
    parsed = pruned = 0
    for i in range(n_cases):
        q = _tree(rng, 2)
        want = base.where(q).agg(*chk).collect()[0]
        pyds_df = (spark.read.format("qbeast").option("where", q)
                   .load(path))
        got = pyds_df.where(q).agg(*chk).collect()[0]
        assert (got.n, got.h) == (want.n, want.h), \
            f"[pyds seed=20260820 case={i}] {q}"
        # the tally measures the ACTUAL pyds scan, not a recomputation:
        # the planner emits one partition per surviving file, so the
        # scan's partition count must equal the native pruning's file
        # count for the same predicate — a silently dropped option or
        # planner drift fails here even though the equality above stays
        # green (option('where') is widening + .where(q) is row-exact)
        nparts = pyds_df.rdd.getNumPartitions()
        dnf = to_dnf_filters(q)
        if dnf is None:
            assert nparts == n_files, (nparts, n_files, q)
            continue
        parsed += 1
        selected = set()
        for conj in dnf:
            selected.update(prune_files(snap, conj))
        # an empty scan still materializes as one (empty) RDD partition
        assert nparts == len(selected) or \
            (len(selected) == 0 and nparts == 1), \
            (nparts, len(selected), q)
        if len(selected) < n_files:
            pruned += 1
    assert parsed >= n_cases * 0.5, (parsed, n_cases)
    assert pruned >= parsed * 0.1, (pruned, parsed)


def test_qsql_join_lift_lane_equals_plain_spark(spark, tmp_path_factory):
    """r8: the random predicate grammar driven through the qsql JOIN
    WHERE lift (catalog._table_refs): the indexed table joined
    to a plain dimension, the WHERE mixing qbeast-column conjuncts
    (randomly alias-qualified — exercising the qualifier strip) with
    dimension conjuncts. Soundness contract: the statement's result must
    equal the plain-Spark join row for row; a tally (via the statement's
    ACTUAL qbeast input files) asserts the lift really prunes on a
    healthy share of translatable predicates."""
    import re as _re

    import qbeast_spark_spark as qss
    from qbeast_spark_spark.sources.catalog import QbeastSqlCatalog
    from qbeast_spark_spark.sources.predicates import to_dnf_filters
    from qbeast_spark_spark.sources.reader import prune_files

    base = _base_frame(spark)
    wh = tmp_path_factory.mktemp("e2e_qsql_join")
    path = str(wh / "qli")
    qss.write(base, path,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=400)
    qt = qss.QbeastTable.for_path(spark, path)
    snap = qt.snapshot(refresh=True)
    n_files = len(snap.files)
    assert n_files > 1
    cat = QbeastSqlCatalog(spark, str(wh / "warehouse"))
    cat.sql(f"CREATE TABLE qli USING qbeast LOCATION '{path}'")
    orders = load(spark, "orders")
    orders.createOrReplaceTempView("odim")
    joined = base.join(orders,
                       base.l_orderkey == orders.o_orderkey)
    cols = sorted(base.columns)
    chk = _checksum_exprs(cols)
    col_rx = _re.compile(r"\b(" + "|".join(sorted(cols, key=len,
                                                  reverse=True)) + r")\b")
    rng = random.Random(20260821)
    n_cases = max(30, N_CASES // 10)
    parsed = pruned = 0
    for i in range(n_cases):
        q = _tree(rng, 2)
        # randomly alias-qualify the qbeast columns; the dim conjunct
        # stays o.-qualified (an unknown column to the pruner: widens)
        qualify = rng.random() < 0.6
        q_sql = col_rx.sub(r"t.\1", q) if qualify else q
        ck = rng.choice([0, 5, 50, 500])
        stmt = (f"SELECT {', '.join('t.' + c for c in cols)} FROM qli t "
                f"JOIN odim o ON t.l_orderkey = o.o_orderkey "
                f"WHERE ({q_sql}) AND o.o_custkey >= {ck}")
        got_df = cat.sql(stmt)
        got = got_df.agg(*chk).collect()[0]
        want = (joined.where(q).where(F.col("o_custkey") >= ck)
                .agg(*chk).collect()[0])
        assert (got.n, got.h) == (want.n, want.h), \
            f"[qsql_join seed=20260821 case={i}] {stmt}"
        qb_inputs = {os.path.basename(f) for f in got_df.inputFiles()
                     if "/qli/" in f}
        # the lift strips the alias, so the pruner sees bare columns
        dnf = to_dnf_filters(f"({q}) AND o.o_custkey >= {ck}")
        if dnf is None:
            continue
        parsed += 1
        selected = set()
        for conj in dnf:
            selected.update(prune_files(snap, conj))
        # the statement may legitimately read FEWER files than the
        # recomputed candidate set (Catalyst folds contradictory
        # predicates to an empty relation before listing files) but
        # never one outside it; over-pruning that DROPS matching rows
        # is caught by the row-equality assert above
        assert qb_inputs <= {os.path.basename(p) for p in selected}, \
            (sorted(qb_inputs - selected), stmt)
        if len(qb_inputs) < n_files:
            pruned += 1
    assert parsed >= n_cases * 0.4, (parsed, n_cases)
    assert pruned >= parsed * 0.1, (pruned, parsed)


def test_qsql_multi_table_lift_lane_equals_plain_spark(spark,
                                                      tmp_path_factory):
    """r8 (per-occurrence attribution): TWO qbeast tables in one JOIN,
    random predicate trees on the fact side + random range conjuncts on
    the dimension side, randomly alias- or name-qualified. Contract:
    row-for-row equality with the plain-Spark join, each table's actual
    input files a subset of ITS recomputed candidate set, and a tally
    that both sides really prune."""
    import re as _re

    import qbeast_spark_spark as qss
    from qbeast_spark_spark.sources.catalog import QbeastSqlCatalog
    from qbeast_spark_spark.sources.predicates import to_dnf_filters
    from qbeast_spark_spark.sources.reader import prune_files

    base = _base_frame(spark)
    wh = tmp_path_factory.mktemp("e2e_qsql_multi")
    li_path, ord_path = str(wh / "fli"), str(wh / "ford")
    qss.write(base, li_path,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=400)
    orders = load(spark, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    qss.write(orders, ord_path, columns_to_index=["o_orderkey"],
              cube_size=150)
    snap_li = qss.QbeastTable.for_path(spark, li_path).snapshot()
    snap_ord = qss.QbeastTable.for_path(spark, ord_path).snapshot()
    nf_li, nf_ord = len(snap_li.files), len(snap_ord.files)
    assert nf_li > 1 and nf_ord > 1
    cat = QbeastSqlCatalog(spark, str(wh / "warehouse"))
    cat.sql(f"CREATE TABLE fli USING qbeast LOCATION '{li_path}'")
    cat.sql(f"CREATE TABLE ford USING qbeast LOCATION '{ord_path}'")
    joined = base.join(orders, base.l_orderkey == orders.o_orderkey)
    cols = sorted(base.columns)
    chk = _checksum_exprs(cols)
    col_rx = _re.compile(r"\b(" + "|".join(sorted(cols, key=len,
                                                  reverse=True)) + r")\b")
    rng = random.Random(20260822)
    n_cases = max(30, N_CASES // 10)
    parsed = pruned_li = pruned_ord = 0
    for i in range(n_cases):
        q = _tree(rng, 2)
        olo = rng.choice([0, 100, 1000, 3000])
        ohi = olo + rng.choice([200, 1500, 60000])
        oq = f"o_orderkey >= {olo} AND o_orderkey < {ohi}"
        if rng.random() < 0.5:       # user aliases
            frm = ("FROM fli a JOIN ford b ON "
                   "a.l_orderkey = b.o_orderkey")
            qa, qb_ = col_rx.sub(r"a.\1", q), \
                _re.sub(r"\bo_orderkey\b", "b.o_orderkey", oq)
            sel = ", ".join("a." + c for c in cols)
        else:                        # name-qualified, no aliases
            frm = ("FROM fli JOIN ford ON "
                   "fli.l_orderkey = ford.o_orderkey")
            qa, qb_ = col_rx.sub(r"fli.\1", q), \
                _re.sub(r"\bo_orderkey\b", "ford.o_orderkey", oq)
            sel = ", ".join("fli." + c for c in cols)
        stmt = f"SELECT {sel} {frm} WHERE ({qa}) AND {qb_}"
        got_df = cat.sql(stmt)
        got = got_df.agg(*chk).collect()[0]
        want = (joined.where(q).where(oq).agg(*chk).collect()[0])
        assert (got.n, got.h) == (want.n, want.h), \
            f"[qsql_multi seed=20260822 case={i}] {stmt}"
        in_li = {os.path.basename(f) for f in got_df.inputFiles()
                 if "/fli/" in f}
        in_ord = {os.path.basename(f) for f in got_df.inputFiles()
                  if "/ford/" in f}
        dnf_ord = to_dnf_filters(oq)
        cand_ord = set()
        for conj in dnf_ord:
            cand_ord.update(prune_files(snap_ord, conj))
        assert in_ord <= {os.path.basename(p) for p in cand_ord}, \
            (sorted(in_ord), stmt)
        if len(in_ord) < nf_ord:
            pruned_ord += 1
        dnf_li = to_dnf_filters(q)
        if dnf_li is None:
            continue
        parsed += 1
        cand_li = set()
        for conj in dnf_li:
            cand_li.update(prune_files(snap_li, conj))
        assert in_li <= {os.path.basename(p) for p in cand_li}, \
            (sorted(in_li), stmt)
        if len(in_li) < nf_li:
            pruned_li += 1
    assert parsed >= n_cases * 0.4, (parsed, n_cases)
    assert pruned_li >= parsed * 0.1, (pruned_li, parsed)
    assert pruned_ord >= n_cases * 0.3, (pruned_ord, n_cases)


def test_qsql_left_join_lift_lane_equals_plain_spark(spark,
                                                     tmp_path_factory):
    """r9 (+r10 RIGHT mirror): the random predicate grammar driven
    through the outer-join WHERE lift — the indexed table on the
    PRESERVED side of a LEFT JOIN (leading the chain) or of a RIGHT
    JOIN (directly after it), randomly chained with a further inner
    join. Soundness contract identical to the r8 inner-join lane:
    row-checksum equality with the plain-Spark outer join, qbeast
    input files a subset of the recomputed candidate set, and a
    healthy pruned share."""
    import re as _re

    import qbeast_spark_spark as qss
    from qbeast_spark_spark.sources.catalog import QbeastSqlCatalog
    from qbeast_spark_spark.sources.predicates import to_dnf_filters
    from qbeast_spark_spark.sources.reader import prune_files

    base = _base_frame(spark)
    wh = tmp_path_factory.mktemp("e2e_qsql_ljoin")
    path = str(wh / "qli")
    qss.write(base, path,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=400)
    qt = qss.QbeastTable.for_path(spark, path)
    snap = qt.snapshot(refresh=True)
    n_files = len(snap.files)
    assert n_files > 1
    cat = QbeastSqlCatalog(spark, str(wh / "warehouse"))
    cat.sql(f"CREATE TABLE qli USING qbeast LOCATION '{path}'")
    orders = load(spark, "orders")
    orders.createOrReplaceTempView("odim")
    cols = sorted(base.columns)
    chk = _checksum_exprs(cols)
    col_rx = _re.compile(r"\b(" + "|".join(sorted(cols, key=len,
                                                  reverse=True)) + r")\b")
    rng = random.Random(20260916)
    n_cases = max(30, N_CASES // 10)
    parsed = pruned = 0
    for i in range(n_cases):
        q = _tree(rng, 2)
        q_sql = col_rx.sub(r"t.\1", q) if rng.random() < 0.6 else q
        chain = rng.random() < 0.5
        sel = ", ".join("t." + c for c in cols)
        if rng.random() < 0.5:
            stmt = (f"SELECT {sel} FROM qli t "
                    f"LEFT JOIN odim o ON t.l_orderkey = o.o_orderkey ")
            twin = base.join(orders,
                             base.l_orderkey == orders.o_orderkey,
                             "left")
        else:
            # RIGHT mirror: qli directly after the RIGHT JOIN is the
            # preserved side — same lift, symmetric shape
            stmt = (f"SELECT {sel} FROM odim o "
                    f"RIGHT JOIN qli t ON t.l_orderkey = o.o_orderkey ")
            twin = orders.join(base,
                               base.l_orderkey == orders.o_orderkey,
                               "right")
        if chain:
            # a further INNER join after the LEFT: t stays preserved
            stmt += ("JOIN odim p ON t.l_orderkey = p.o_orderkey ")
            twin = twin.join(
                orders.select(F.col("o_orderkey").alias("p_ok")),
                F.col("l_orderkey") == F.col("p_ok"))
        stmt += f"WHERE ({q_sql})"
        got_df = cat.sql(stmt)
        got = got_df.agg(*chk).collect()[0]
        want = twin.where(q).agg(*chk).collect()[0]
        assert (got.n, got.h) == (want.n, want.h), \
            f"[qsql_ljoin seed=20260916 case={i}] {stmt}"
        qb_inputs = {os.path.basename(f) for f in got_df.inputFiles()
                     if "/qli/" in f}
        dnf = to_dnf_filters(q)
        if dnf is None:
            continue
        parsed += 1
        selected = set()
        for conj in dnf:
            selected.update(prune_files(snap, conj))
        assert qb_inputs <= {os.path.basename(p) for p in selected}, \
            (sorted(qb_inputs - selected), stmt)
        if len(qb_inputs) < n_files:
            pruned += 1
    assert parsed >= n_cases * 0.4, (parsed, n_cases)
    assert pruned >= parsed * 0.1, (pruned, parsed)


def test_qsql_self_join_lift_lane_equals_plain_spark(spark,
                                                    tmp_path_factory):
    """r11 (VERDICT r10 Next #2): the random predicate grammar driven
    through the SELF-join per-occurrence lift — the indexed table
    joined to itself under aliases a/b, each side drawing its own
    random predicate tree. Soundness contract: row-for-row equality
    with the plain-Spark self-join; the statement's qbeast input files
    (the UNION of both scans) must stay inside the union of the two
    per-side recomputed candidate sets; a tally asserts the lane really
    prunes on a healthy share of translatable predicates."""
    import re as _re

    import qbeast_spark_spark as qss
    from qbeast_spark_spark.sources.catalog import QbeastSqlCatalog
    from qbeast_spark_spark.sources.predicates import to_dnf_filters
    from qbeast_spark_spark.sources.reader import prune_files

    base = _base_frame(spark)
    wh = tmp_path_factory.mktemp("e2e_qsql_selfjoin")
    path = str(wh / "qli")
    qss.write(base, path,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=400)
    qt = qss.QbeastTable.for_path(spark, path)
    snap = qt.snapshot(refresh=True)
    n_files = len(snap.files)
    assert n_files > 1
    cat = QbeastSqlCatalog(spark, str(wh / "warehouse"))
    cat.sql(f"CREATE TABLE qli USING qbeast LOCATION '{path}'")
    cols = sorted(base.columns)
    sel = ", ".join(f"a.{c}" for c in cols)
    chk = _checksum_exprs(cols)
    col_rx = _re.compile(r"\b(" + "|".join(sorted(cols, key=len,
                                                  reverse=True)) + r")\b")
    a_side = base.alias("a")
    b_side = base.alias("b")
    joined = a_side.join(
        b_side, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
    rng = random.Random(20260817)
    n_cases = max(30, N_CASES // 10)
    parsed = pruned = 0
    for i in range(n_cases):
        qa = _tree(rng, 2)
        qb = _tree(rng, 1)
        qa_sql = col_rx.sub(r"a.\1", qa)
        qb_sql = col_rx.sub(r"b.\1", qb)
        stmt = (f"SELECT {sel} FROM qli a "
                f"JOIN qli b ON a.l_orderkey = b.l_orderkey "
                f"WHERE ({qa_sql}) AND ({qb_sql})")
        got_df = cat.sql(stmt)
        got = got_df.agg(*chk).collect()[0]
        want = (joined
                .where(f"({qa_sql}) AND ({qb_sql})")
                .select(*[F.col(f"a.{c}") for c in cols])
                .agg(*chk).collect()[0])
        assert (got.n, got.h) == (want.n, want.h), \
            f"[qsql_selfjoin seed=20260817 case={i}] {stmt}"
        qb_inputs = {os.path.basename(f) for f in got_df.inputFiles()
                     if "/qli/" in f}
        dnf_a, dnf_b = to_dnf_filters(qa), to_dnf_filters(qb)
        if dnf_a is None or dnf_b is None:
            continue
        parsed += 1
        selected = set()
        for dnf in (dnf_a, dnf_b):
            for conj in dnf:
                selected.update(prune_files(snap, conj))
        assert qb_inputs <= {os.path.basename(p) for p in selected}, \
            (sorted(qb_inputs), stmt)
        if len(qb_inputs) < n_files:
            pruned += 1
    assert parsed >= n_cases * 0.3, (parsed, n_cases)
    assert pruned >= parsed * 0.1, (pruned, parsed)


def test_qsql_subquery_lift_lane_equals_plain_spark(spark,
                                                   tmp_path_factory):
    """r11: the random predicate grammar driven through the SUBQUERY
    WHERE lift — the indexed table referenced from IN (...) / EXISTS
    (...) / a derived table in FROM, each body drawing a random
    predicate tree. Soundness contract: row-for-row equality with the
    plain-Spark twin; the statement's qbeast input files stay inside
    the recomputed candidate set; a tally asserts real pruning."""
    import re as _re

    import qbeast_spark_spark as qss
    from qbeast_spark_spark.sources.catalog import QbeastSqlCatalog
    from qbeast_spark_spark.sources.predicates import to_dnf_filters
    from qbeast_spark_spark.sources.reader import prune_files

    base = _base_frame(spark)
    wh = tmp_path_factory.mktemp("e2e_qsql_subq")
    path = str(wh / "qli")
    qss.write(base, path,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=400)
    qt = qss.QbeastTable.for_path(spark, path)
    snap = qt.snapshot(refresh=True)
    n_files = len(snap.files)
    assert n_files > 1
    cat = QbeastSqlCatalog(spark, str(wh / "warehouse"))
    cat.sql(f"CREATE TABLE qli USING qbeast LOCATION '{path}'")
    orders = load(spark, "orders")
    orders.createOrReplaceTempView("odim")
    cols = sorted(base.columns)
    col_rx = _re.compile(r"\b(" + "|".join(sorted(cols, key=len,
                                                  reverse=True)) + r")\b")
    rng = random.Random(20260818)
    n_cases = max(30, N_CASES // 10)
    parsed = pruned = 0
    for i in range(n_cases):
        q = _tree(rng, 2)
        shape = rng.choice(["in", "exists", "derived"])
        if shape == "in":
            stmt = (f"SELECT COUNT(*) AS n, "
                    f"COALESCE(SUM(o_custkey), 0) AS s FROM odim "
                    f"WHERE o_orderkey IN "
                    f"(SELECT l_orderkey FROM qli WHERE {q})")
            keys = (base.where(q).select("l_orderkey")
                    .where(F.col("l_orderkey").isNotNull()).distinct())
            twin = orders.join(keys,
                               orders.o_orderkey == keys.l_orderkey,
                               "left_semi")
            want_df = twin.agg(F.count(F.lit(1)).alias("n"),
                               F.coalesce(F.sum("o_custkey"),
                                          F.lit(0)).alias("s"))
        elif shape == "exists":
            qq = col_rx.sub(r"t.\1", q)
            stmt = (f"SELECT COUNT(*) AS n, "
                    f"COALESCE(SUM(o_custkey), 0) AS s FROM odim o "
                    f"WHERE EXISTS (SELECT 1 FROM qli t WHERE ({qq}) "
                    f"AND t.l_orderkey = o.o_orderkey)")
            keys = base.where(q).select("l_orderkey").distinct()
            twin = orders.join(keys,
                               orders.o_orderkey == keys.l_orderkey,
                               "left_semi")
            want_df = twin.agg(F.count(F.lit(1)).alias("n"),
                               F.coalesce(F.sum("o_custkey"),
                                          F.lit(0)).alias("s"))
        else:
            stmt = (f"SELECT COUNT(*) AS n, "
                    f"COALESCE(SUM(d.l_orderkey), 0) AS s FROM "
                    f"(SELECT l_orderkey FROM qli WHERE {q}) d "
                    f"JOIN odim ON d.l_orderkey = odim.o_orderkey")
            twin = (base.where(q).select("l_orderkey")
                    .join(orders,
                          F.col("l_orderkey") == orders.o_orderkey))
            want_df = twin.agg(F.count(F.lit(1)).alias("n"),
                               F.coalesce(F.sum("l_orderkey"),
                                          F.lit(0)).alias("s"))
        got_df = cat.sql(stmt)
        got = got_df.collect()[0]
        want = want_df.collect()[0]
        assert (got.n, got.s) == (want.n, want.s), \
            f"[qsql_subq seed=20260818 case={i} shape={shape}] {stmt}"
        qb_inputs = {os.path.basename(f) for f in got_df.inputFiles()
                     if "/qli/" in f}
        dnf = to_dnf_filters(q)
        if dnf is None:
            continue
        parsed += 1
        selected = set()
        for conj in dnf:
            selected.update(prune_files(snap, conj))
        assert qb_inputs <= {os.path.basename(p) for p in selected}, \
            (sorted(qb_inputs), stmt)
        if len(qb_inputs) < n_files:
            pruned += 1
    assert parsed >= n_cases * 0.4, (parsed, n_cases)
    assert pruned >= parsed * 0.1, (pruned, parsed)

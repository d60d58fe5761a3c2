"""The engine's query surface: every operator from SURVEY.md §2 (plus the
beyond-reference data-pipeline operators) as (Spark callable, DuckDB oracle
SQL) pairs, consumed by __spark_entry__.py and bench.py.

Numeric-compare conventions (shared by BOTH sides so the driver's
order-insensitive value-hash matches):
- money sums -> per-row ROUND(x*100) summed as BIGINT ("cents trick":
  deterministic, order-independent, no float accumulation drift);
- averages/ratios/cosines -> ROUND(..., 4..6) (per-group noise << ulp of
  the rounding step);
- every computed column aliased identically in Spark and SQL.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable, Dict, Optional, Tuple

from .operators.dedup import (
    SIMHASH_BITS,
    dedup_exact,
    jaccard_pairs,
    simhash,
)
from .operators.asof import asof_join
from .operators.multimodal import binary_metadata, with_binary_payload
from .operators.similarity import cosine_pairs, cosine_topk, ivf_topk
from .operators.text import (
    STOPWORDS_EN,
    TOKEN_RE,
    language_guess,
    text_analysis,
    text_stats,
)

__all__ = ["QUERIES", "spark_queries", "oracle_queries", "flagship"]


from .queries_common import (  # noqa: E402
    DD_JACCARD_SQL as _DD_JACCARD_SQL,
    _cache_path,
    _cents,
    _events,
    _t,
)


# ---------------------------------------------------------------------------
# qbeast-native operators (indexed table built once per sf_dir in /tmp)
# ---------------------------------------------------------------------------

_QB_CACHE: Dict[str, str] = {}


def _build_indexed_lineitem(spark, sf_dir: str, path: str) -> None:
    """The one canonical indexed-lineitem build (columns, cube-size
    heuristic) — shared by the plain and the re-layout cached copies so
    their layouts can never silently diverge."""
    import pyarrow.parquet as pq

    from . import write_qbeast

    shutil.rmtree(path, ignore_errors=True)
    li = _t(spark, sf_dir, "lineitem")
    # row count from the parquet footer — no Spark job needed
    n_rows = pq.ParquetFile(
        os.path.join(sf_dir, "lineitem.parquet")).metadata.num_rows
    write_qbeast(li, path,
                 columns_to_index=["l_orderkey", "l_extendedprice"],
                 cube_size=max(1000, n_rows // 64))


def _indexed_lineitem(spark, sf_dir: str) -> str:
    """Write (once) an OTree-indexed copy of lineitem for this sf_dir."""
    from .sources.log import CommitLog

    key = os.path.abspath(sf_dir)
    path = _QB_CACHE.get(key) or _cache_path(sf_dir, "lineitem")
    if not CommitLog(path).exists():
        _build_indexed_lineitem(spark, sf_dir, path)
    _QB_CACHE[key] = path
    return path


def _relayout_lineitem(spark, sf_dir: str) -> str:
    """Write (once per process) an indexed lineitem copy that has ALSO
    been through the maintenance surface: optimize (O1 re-layout of half
    the fraction space) then compact (bin-pack small files, no
    re-index). Separate from ``_indexed_lineitem`` so the re-layout
    never mutates the table every other query shares."""
    from . import compact_table, optimize_table
    from .sources.log import CommitLog

    key = os.path.abspath(sf_dir) + "#relayout"
    path = _cache_path(sf_dir, "lineitem_rt")
    # crash-safe cache gate: the log exists after write's FIRST commit,
    # so a process killed between write and the maintenance verbs would
    # otherwise cache a half-built table forever and this row would
    # silently stop exercising the re-layout path it pins. A plain
    # operation-history check can't work either (compact_table
    # legitimately no-ops without a commit), so the build publishes an
    # explicit completion-marker property as its LAST commit. The build
    # itself runs under an inter-process flock: the multi-step
    # write→optimize→compact sequence means "log exists" no longer
    # implies "build complete", so without the lock a second process
    # could rmtree the path mid-maintenance under the first.
    import fcntl

    log = CommitLog(path)

    def _done() -> bool:
        try:
            return log.exists() and \
                log.table_properties().get("qss.bench.relayout") == "done"
        except OSError:
            # racing builder's rmtree between our listdir and open —
            # only possible on the unlocked fast probe; settle it by
            # taking the lock
            return False

    # the in-process fast cache must still verify the COMPLETION MARKER
    # on disk: bench's qb_write loop rmtrees the tag dir after the
    # warmup cached this build, and a cross-process rebuild can be
    # mid-flight (log exists, maintenance not yet run) — only the
    # marker means complete. table_properties() is a cheap metadata
    # read; the cache merely skips it... never at the cost of trusting
    # a path a second actor may have deleted or half-rebuilt.
    if key in _QB_CACHE and _done():
        return _QB_CACHE[key]
    _QB_CACHE.pop(key, None)

    if not _done():
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path + ".buildlock", "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            try:
                if not _done():     # re-check under the lock
                    from .sources.reader import QbeastTable

                    _build_indexed_lineitem(spark, sf_dir, path)
                    optimize_table(spark, path, fraction=0.5)
                    compact_table(spark, path,
                                  target_file_bytes=256 * 1024 * 1024)
                    log.commit(
                        properties={"qss.bench.relayout": "done"},
                        data_change=False, operation="SET TBLPROPERTIES")
                    # export the reference-format Delta log ONCE here:
                    # the table is immutable after the marker, so a
                    # per-call export in qb_roundtrip would only append
                    # redundant full-manifest versions (each read
                    # replays them all — unbounded growth across bench
                    # runs sharing the /tmp cache)
                    QbeastTable.for_path(spark, path).export_delta_log()
            finally:
                fcntl.flock(lf, fcntl.LOCK_UN)
    _QB_CACHE[key] = path
    return path


_AUTO_SEL_DONE: Dict[str, bool] = {}


def _auto_selection_gate(spark, sf_dir: str) -> None:
    """O3 (auto column selection) exercised inside qb_roundtrip's setup
    (VERDICT r8 next #4 — the last §2.1 operator with no driver-row
    coverage). An exact cross-sf pin would be WRONG: the selection is
    data-dependent (least-correlated ranking legitimately differs
    between sf0.001/0.01/0.1 — measured), so the gate asserts the
    contract instead: determinism, a real ``columns_to_index=None``
    write whose committed revision equals the recomputed selection
    (SparkColumnsToIndexSelector.scala:33-161 parity path in
    functions/selection.py + sources/writer.py), and pruned-read
    exactness through the auto-chosen index. Any selector regression
    raises here and fails the whole qb_roundtrip row. Runs on the small
    ``supplier`` table — negligible at every sf."""
    from pyspark.sql import functions as F

    from . import write_qbeast
    from .functions.selection import select_columns_to_index
    from .sources.log import CommitLog
    from .sources.reader import QbeastTable

    key = os.path.abspath(sf_dir)
    if _AUTO_SEL_DONE.get(key):
        return
    sup = _t(spark, sf_dir, "supplier")
    sel = select_columns_to_index(sup)
    if select_columns_to_index(sup) != sel:
        raise AssertionError(f"auto selection not deterministic: {sel}")
    if not (0 < len(sel) <= 3 and set(sel) <= set(sup.columns)):
        raise AssertionError(f"auto selection out of contract: {sel}")
    path = _cache_path(sf_dir, "supplier_auto")
    log = CommitLog(path)
    if not log.exists():
        write_qbeast(sup, path, columns_to_index=None, cube_size=1000)
    qt = QbeastTable.for_path(spark, path)
    rev = qt.snapshot(refresh=True).latest_revision()
    if sorted(rev.column_names) != sorted(sel):
        # the cached table may predate a LEGITIMATE selector change
        # (the /tmp cache survives harness versions — r9 review);
        # rebuild once through the auto path, then the comparison is
        # selector-vs-its-own-write and a mismatch is a real break
        shutil.rmtree(path, ignore_errors=True)
        write_qbeast(sup, path, columns_to_index=None, cube_size=1000)
        qt = QbeastTable.for_path(spark, path)
        rev = qt.snapshot(refresh=True).latest_revision()
    if sorted(rev.column_names) != sorted(sel):
        raise AssertionError(
            f"columns_to_index=None indexed {rev.column_names}, "
            f"selector says {sel}")
    # pruned-read exactness through the auto-chosen index
    got = qt.read([("s_suppkey", "<=", 50)]).count()
    want = sup.where(F.col("s_suppkey") <= 50).count()
    if got != want:
        raise AssertionError(f"auto-indexed read {got} != {want}")
    _AUTO_SEL_DONE[key] = True


def qb_roundtrip(spark, sf_dir):
    """W1-W7 + O1/O2 re-layout + O3 (auto column selection, gated in
    setup — see _auto_selection_gate) + R4 + qbeast-Delta interop under
    ONE strict hash check (VERDICT r6 Next #7): indexed write, then
    optimize (re-layout through existing cube weights) and compact
    (bin-pack) rewrite the physical files, then the read goes through
    the REFERENCE on-disk format — the snapshot is exported as a
    qbeast-tagged Delta log (revision JSON in metaData.configuration,
    Block lists in AddFile.tags — docs/QbeastFormat.md:85-190) and read
    back via ``QbeastTable.for_delta``, which rebuilds the index from
    those tags alone (sources/qbeast_format.py). The full read must
    still return exactly the input rows, proving BOTH the maintenance
    rewrites and the format roundtrip are lossless."""
    from .sources.reader import QbeastTable

    _auto_selection_gate(spark, sf_dir)
    path = _relayout_lineitem(spark, sf_dir)
    # the Delta export happens once inside the locked build (the table
    # is immutable after its completion marker); re-export here only if
    # a cache predating that change lacks the log entirely — and never
    # from a log-less path (that would manifest an empty delta log)
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        from .sources.log import CommitLog

        if not CommitLog(path).exists():
            raise RuntimeError(
                f"relayout table at {path} has no qbeast log — "
                "build did not complete")
        QbeastTable.for_path(spark, path).export_delta_log()
    return QbeastTable.for_delta(spark, path).to_df()


QB_ROUNDTRIP_SQL = "SELECT * FROM lineitem"


def qb_dml(spark, sf_dir):
    """DML that keeps the index readable (sources/dml.py — the verbs the
    reference hands to the DeltaTable API at the cost of its index: after
    a delete "the table should only be read using delta",
    docs/Quickstart.md:409-427): fresh indexed copy of lineitem, DELETE a
    key range, UPDATE a measure over a price slice, MERGE the deleted
    keys back (insert-only, one row per key) and MERGE a matched update
    over a surviving key range, then read the result back through the
    indexed surface. Repeated runs are deterministic: the FIRST call in
    a process builds the table from scratch; later calls RESTORE it to
    the pristine base version (metadata-only — the rolled-back files
    are still on disk) instead of paying the full index build again.
    Bench medians re-run the verbs on identical base state either way,
    and the reuse map is in-process only, so a fresh process (the
    driver's correctness run) always rebuilds (VERDICT r5 Next #7)."""
    from pyspark.sql import functions as F

    from . import write_qbeast
    from .sources.reader import QbeastTable

    import time as _time

    path = _cache_path(sf_dir, "lineitem_dml")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_quantity", "l_returnflag")
    phases = LAST_DML_PHASES
    phases.clear()
    t0 = _time.time()
    qt = None
    if _DML_BASE.get(path) is not None and os.path.exists(path):
        try:
            qt = QbeastTable.for_path(spark, path)
            qt.restore(_DML_BASE[path])
        except Exception:
            qt = None
    if qt is None:
        shutil.rmtree(path, ignore_errors=True)
        write_qbeast(li, path,
                     columns_to_index=["l_orderkey", "l_extendedprice"],
                     cube_size=5000)
        qt = QbeastTable.for_path(spark, path)
        _DML_BASE[path] = qt.snapshot(refresh=True).version
    phases["setup"] = _time.time() - t0
    t0 = _time.time()
    qt.delete([("l_orderkey", "<", 1000)])
    phases["delete"] = _time.time() - t0
    t0 = _time.time()
    qt.update({"l_quantity": "l_quantity + 5"},
              [("l_extendedprice", "<", 10000.0)])
    phases["update"] = _time.time() - t0
    # merge the deleted low keys back, one row per key (all not-matched)
    src_ins = (li.where("l_orderkey < 500").groupBy("l_orderkey")
               .agg(F.min("l_extendedprice").alias("l_extendedprice"),
                    F.min("l_quantity").alias("l_quantity"),
                    F.min("l_returnflag").alias("l_returnflag")))
    t0 = _time.time()
    qt.merge(src_ins, on="l_orderkey", when_not_matched_insert="all")
    phases["merge_insert"] = _time.time() - t0
    # matched update over a surviving slice
    src_upd = (li.where("l_orderkey BETWEEN 2000 AND 2500")
               .select("l_orderkey").distinct())
    t0 = _time.time()
    qt.merge(src_upd, on="l_orderkey",
             when_matched_update={"l_returnflag": "'M'"})
    phases["merge_update"] = _time.time() - t0
    return qt.to_df().select("l_orderkey", "l_extendedprice",
                             "l_quantity", "l_returnflag")


# per-phase wall times of the last qb_dml call (bench reports the DML
# verbs as the headline and the one-time setup write as a submetric)
LAST_DML_PHASES: Dict[str, float] = {}

# in-process map of pristine qb_dml base versions: later calls restore
# instead of rebuilding (never persisted — a new process rebuilds)
_DML_BASE: Dict[str, int] = {}

# per-phase wall times of the last qb_sample call (bench submetrics:
# qb_sample.exact / .tolerance / .approx — r6 scope attribution)
LAST_SAMPLE_PHASES: Dict[str, float] = {}


QB_DML_SQL = """
WITH survivors AS (
  SELECT l_orderkey, l_extendedprice,
         CASE WHEN l_extendedprice < 10000.0
              THEN l_quantity + 5 ELSE l_quantity END AS l_quantity,
         l_returnflag
  FROM lineitem WHERE l_orderkey >= 1000),
ins AS (
  SELECT l_orderkey, MIN(l_extendedprice) AS l_extendedprice,
         MIN(l_quantity) AS l_quantity, MIN(l_returnflag) AS l_returnflag
  FROM lineitem WHERE l_orderkey < 500 GROUP BY l_orderkey),
u AS (SELECT * FROM survivors UNION ALL SELECT * FROM ins)
SELECT l_orderkey, l_extendedprice, l_quantity,
       CASE WHEN l_orderkey BETWEEN 2000 AND 2500
            THEN 'M' ELSE l_returnflag END AS l_returnflag
FROM u
"""


def qb_range_read(spark, sf_dir):
    """R3: multi-dim data-skipping — all three pruning shapes through one
    result: a conjunctive box ('and' probe), a disjunction of two
    disjoint boxes that prune independently and union their file sets
    ('or' probe; QuerySpecBuilder.scala:56-77 semantics), and the same
    conjunctive box through ``format("qbeast")`` ('pyds' probe) —
    ``option("where", ...)`` prunes the file list inside the Python Data
    Source with the identical planner logic, the chained ``.where``
    restores row exactness (sources/pyds.py; pushFilters-based pruning
    is deliberately not used — Spark 4.1's readInfo cache makes it
    unsound under DataFrame reuse). Each result must equal a plain
    WHERE."""
    from pyspark.sql import functions as F

    from .sources.pyds import register
    from .sources.reader import QbeastTable

    path = _indexed_lineitem(spark, sf_dir)
    qt = QbeastTable.for_path(spark, path)
    conj = qt.read([("l_orderkey", ">=", 1000), ("l_orderkey", "<", 3000),
                    ("l_extendedprice", ">=", 20000.0)])
    disj = qt.read([
        [("l_orderkey", "<", 500), ("l_extendedprice", ">=", 30000.0)],
        [("l_orderkey", ">=", 9000), ("l_extendedprice", "<", 5000.0)],
    ])
    register(spark)
    _pyds_where = ("l_orderkey >= 1000 AND l_orderkey < 3000 "
                   "AND l_extendedprice >= 20000.0")
    pyds = (spark.read.format("qbeast").option("where", _pyds_where)
            .load(path).where(_pyds_where))
    return (conj.withColumn("probe", F.lit("and"))
            .unionByName(disj.withColumn("probe", F.lit("or")))
            .unionByName(pyds.withColumn("probe", F.lit("pyds"))))


QB_RANGE_READ_SQL = """
SELECT *, 'and' AS probe FROM lineitem
WHERE l_orderkey >= 1000 AND l_orderkey < 3000 AND l_extendedprice >= 20000.0
UNION ALL
SELECT *, 'or' AS probe FROM lineitem
WHERE (l_orderkey < 500 AND l_extendedprice >= 30000.0)
   OR (l_orderkey >= 9000 AND l_extendedprice < 5000.0)
UNION ALL
SELECT *, 'pyds' AS probe FROM lineitem
WHERE l_orderkey >= 1000 AND l_orderkey < 3000 AND l_extendedprice >= 20000.0
"""


def qb_sql_view(spark, sf_dir):
    """C1 SQL surface (sources/catalog.py): the indexed table adopted via
    ``CREATE TABLE ... USING qbeast LOCATION`` and queried through plain
    SQL statements (QbeastCatalog.scala:48-355 at the Python level). The
    slice statement is a single-table WHERE, so the dispatcher registers
    the FILE-PRUNED read — pruning survives the SQL surface (the r6-era
    ``create_view(filters=...)`` lane, now reached by statement text
    alone)."""
    from .sources.catalog import QbeastSqlCatalog

    path = _indexed_lineitem(spark, sf_dir)
    cat = QbeastSqlCatalog(spark, _cache_path(sf_dir, "sqlwh"))
    cat.sql(f"CREATE TABLE IF NOT EXISTS qss_li USING qbeast "
            f"LOCATION '{path}'")
    full = cat.sql("""
        SELECT 'full' AS src, l_returnflag,
               COUNT(*) AS n,
               SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)) AS price_cents
        FROM qss_li GROUP BY l_returnflag
    """)
    sliced = cat.sql("""
        SELECT 'slice' AS src, l_returnflag,
               COUNT(*) AS n,
               SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)) AS price_cents
        FROM qss_li WHERE l_orderkey >= 5000 AND l_orderkey < 7000
        GROUP BY l_returnflag
    """)
    # r11: SELF-join branch — the same table under two aliases, each
    # occurrence pruned from ITS alias-qualified conjuncts
    # (catalog._table_refs attributes WHERE conjuncts per relation, the
    # reference's QuerySpecBuilder.scala:51-77 behavior)
    selfjoin = cat.sql("""
        SELECT 'selfjoin' AS src, a.l_returnflag,
               COUNT(*) AS n,
               SUM(CAST(ROUND(b.l_extendedprice*100, 0) AS BIGINT)) AS price_cents
        FROM qss_li a JOIN qss_li b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_orderkey >= 5000 AND a.l_orderkey < 6000
          AND b.l_orderkey >= 5000 AND b.l_orderkey < 6000
          AND a.l_linenumber < b.l_linenumber
        GROUP BY a.l_returnflag
    """)
    return full.unionByName(sliced).unionByName(selfjoin)


QB_SQL_VIEW_SQL = """
SELECT 'full' AS src, l_returnflag, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS price_cents
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT 'slice' AS src, l_returnflag, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS price_cents
FROM lineitem WHERE l_orderkey >= 5000 AND l_orderkey < 7000
GROUP BY l_returnflag
UNION ALL
SELECT 'selfjoin' AS src, a.l_returnflag, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(b.l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS price_cents
FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
WHERE a.l_orderkey >= 5000 AND a.l_orderkey < 6000
  AND b.l_orderkey >= 5000 AND b.l_orderkey < 6000
  AND a.l_linenumber < b.l_linenumber
GROUP BY a.l_returnflag
"""


def qb_sample(spark, sf_dir):
    """R1+R2 + the AQP surface under the driver oracle (r6, VERDICT r5
    Next #6). One row per branch, schema (shape, exact_value,
    within_bound):

    - ``exact_value`` is the EXACT aggregate computed engine-side from
      the indexed table (count / sum-of-cents / half-up avg-in-cents) —
      the oracle recomputes it from the raw parquet, so the hash match
      proves the indexed full read agrees with the source;
    - ``within_bound`` asserts the AQP estimate against that exact
      value: ``tolerance()`` (CLT-sized sample, 2% relative precision
      on the mean) and ``approx_agg(0.1)`` (Horvitz-Thompson scale-up
      for count/sum, judged against a CLT band sized from the table:
      rel_se = sqrt((1-f)/(f*N)), 4*rel_se for count and 6*rel_se for
      sum — the extra sigmas absorb value dispersion; measured errors
      sit at 1-2.5 sigma across sf0.001..0.1). Sampling is
      deterministic murmur3-range, so the verdicts are stable per
      dataset, and the oracle asserts TRUE for each — an estimate
      drifting out of its declared bound fails the driver's hash
      compare.

    Bounded driver work: three 1-row collects. Phase wall times land in
    LAST_SAMPLE_PHASES (bench submetrics qb_sample.exact/.tolerance/
    .approx) so the r6 scope growth — one sample aggregate became
    exact-scan + tolerance sizing + HT scale-ups — stays attributable
    round-over-round, the same decomposition convention as
    qb_range_read/sim_topk/train_assembly."""
    import math as _math
    import time as _time

    from pyspark.sql import functions as F

    from .sources.reader import QbeastTable

    path = _indexed_lineitem(spark, sf_dir)
    qt = QbeastTable.for_path(spark, path)
    phases = LAST_SAMPLE_PHASES
    phases.clear()
    cents = _cents(F.col("l_extendedprice"))
    t0 = _time.time()
    exact = qt.to_df().agg(
        F.count("*").alias("n"), F.sum(cents).alias("s")).collect()[0]
    phases["exact"] = _time.time() - t0
    exact_n, exact_s = exact["n"], exact["s"]
    # integer half-up mean-in-cents: identical arithmetic in the oracle
    exact_avg_cents = (2 * exact_s + exact_n) // (2 * exact_n)

    t0 = _time.time()
    tol_df, _fraction = qt.tolerance("l_extendedprice", precision=0.02,
                                     confidence=0.975)
    est_avg = tol_df.agg(F.avg("l_extendedprice")).collect()[0][0]
    phases["tolerance"] = _time.time() - t0
    tol_ok = abs(est_avg * 100.0 - exact_avg_cents) \
        <= 0.02 * exact_avg_cents

    f = 0.1
    t0 = _time.time()
    est = qt.approx_agg(f, sums=["l_extendedprice"],
                        count=True).collect()[0]
    phases["approx"] = _time.time() - t0
    rel_se = _math.sqrt((1.0 - f) / (f * exact_n))
    cnt_ok = abs(est["count_est"] - exact_n) \
        <= max(0.005, 4 * rel_se) * exact_n
    sum_ok = abs(est["l_extendedprice_sum_est"] * 100.0 - exact_s) \
        <= max(0.005, 6 * rel_se) * exact_s
    rows = [("tolerance_avg_cents", int(exact_avg_cents), bool(tol_ok)),
            ("approx_count", int(exact_n), bool(cnt_ok)),
            ("approx_sum_cents", int(exact_s), bool(sum_ok))]
    return spark.createDataFrame(
        rows, "shape string, exact_value long, within_bound boolean")


QB_SAMPLE_SQL = """
SELECT 'tolerance_avg_cents' AS shape,
       CAST((2 * SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)) + COUNT(*))
            // (2 * COUNT(*)) AS BIGINT) AS exact_value,
       TRUE AS within_bound
FROM lineitem
UNION ALL
SELECT 'approx_count' AS shape,
       COUNT(*) AS exact_value,
       TRUE AS within_bound
FROM lineitem
UNION ALL
SELECT 'approx_sum_cents' AS shape,
       CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)) AS BIGINT)
           AS exact_value,
       TRUE AS within_bound
FROM lineitem
"""


# ---------------------------------------------------------------------------
# TPC-H-flavored relational surface (delegated operators, SURVEY §2.2)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark, sf_dir):
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
             F.sum(_cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
             F.sum(_cents(disc)).alias("sum_disc_cents"),
             F.sum(_cents(charge)).alias("sum_charge_cents"),
             F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
             F.round(F.avg("l_discount"), 4).alias("avg_disc"),
             F.count("*").alias("count_order"))
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)                                   AS sum_qty,
       CAST(SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT)                AS sum_base_cents,
       CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100, 0) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
       CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*(1+l_tax)*100, 0) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
       ROUND(AVG(l_quantity), 4)  AS avg_qty,
       ROUND(AVG(l_discount), 4)  AS avg_disc,
       COUNT(*)                   AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark, sf_dir):
    from pyspark.sql import functions as F

    c = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp_ntz"))
    rev = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).alias("revenue_cents"))
        .orderBy(F.col("revenue_cents").desc(), F.col("o_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue_cents DESC, o_orderkey
LIMIT 10
"""


def q5_local_supplier(spark, sf_dir):
    """Star-join shape for scale: the region filter prunes nation BEFORE
    any fact-table contact, so the customer join already carries only
    ASIA customers. Only the bounded dims (region 5 rows, nation 25) get
    explicit broadcast hints; customer/supplier scale with SF, so their
    join strategy is left to AQE's runtime size estimates."""
    from pyspark.sql import functions as F

    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    asian = (n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
             .select("n_nationkey", "n_name"))
    c2 = (c.join(F.broadcast(asian), c.c_nationkey == F.col("n_nationkey"))
          .select("c_custkey", "c_nationkey", "n_name"))
    rev = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c2, o.o_custkey == c2.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey)
              & (F.col("c_nationkey") == s.s_nationkey))
        .groupBy("n_name")
        .agg(F.sum(rev).alias("revenue_cents"))
    )


Q5_SQL = """
SELECT n_name,
       CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def q6_forecast_revenue(spark, sf_dir):
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where((F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
                 & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
                 & (F.col("l_discount") >= 0.03)
                 & (F.col("l_discount") <= 0.07)
                 & (F.col("l_quantity") < 24))
        .agg(F.sum(_cents(F.col("l_extendedprice") * F.col("l_discount")))
             .alias("revenue_cents"),
             F.count("*").alias("n_rows"))
    )


Q6_SQL = """
SELECT CAST(SUM(CAST(ROUND(l_extendedprice*l_discount*100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24
"""


def q_top_orders_per_customer(spark, sf_dir):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk",
                _cents(F.col("o_totalprice")).alias("price_cents"))
    )


Q_TOPN_SQL = """
SELECT o_custkey, o_orderkey, rnk, CAST(ROUND(o_totalprice*100,0) AS BIGINT) AS price_cents
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders)
WHERE rnk <= 3
"""


def q_window_funcs(spark, sf_dir):
    """Window-function family in one pass over per-customer order history:
    running sum (framed aggregate), lag (re-order gap in days), lead
    (next order's priority) — all sharing one window spec, so Catalyst
    evaluates them in a single Window operator after one shuffle."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_custkey", "o_orderkey",
        F.sum(_cents(F.col("o_totalprice"))).over(wsum).alias("running_cents"),
        # day arithmetic on DATE, not epoch micros: timezone/DST-proof
        F.datediff(d, F.lag(d).over(w)).cast("long").alias("gap_days"),
        F.lead("o_orderpriority").over(w).alias("next_priority"))


Q_WINDOW_FUNCS_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT))
         OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS running_cents,
       CAST(date_diff('day', LAG(CAST(o_orderdate AS DATE)) OVER w,
                      CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_days,
       LEAD(o_orderpriority) OVER w AS next_priority
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def q_set_ops(spark, sf_dir):
    """Set ops + semi/anti membership, one labeled result (r4 registry
    curation: the former q_anti_semi_join entry was the same
    (key, bucket) shape over the same customer/orders pair — INTERSECT /
    EXCEPT and left_semi / left_anti are all membership probes, merged
    here with a src label; every underlying operator still runs)."""
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    y95 = o.where(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    y96 = o.where(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    both = y95.intersect(y96).withColumn("bucket", F.lit("both"))
    only95 = y95.exceptAll(y96).withColumn("bucket", F.lit("only95"))
    setops = (both.unionByName(only95)
              .select(F.lit("setops").alias("src"),
                      F.col("o_custkey").alias("key"), "bucket"))
    c = _t(spark, sf_dir, "customer")
    no_orders = (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
                 .select("c_custkey").withColumn("bucket", F.lit("none")))
    with_orders = (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
                   .select("c_custkey").withColumn("bucket", F.lit("some")))
    membership = (no_orders.unionByName(with_orders)
                  .select(F.lit("antisemi").alias("src"),
                          F.col("c_custkey").alias("key"), "bucket"))
    return setops.unionByName(membership)


Q_SETOPS_SQL = """
SELECT 'setops' AS src, o_custkey AS key, 'both' AS bucket FROM
 (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1995
  INTERSECT
  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1996)
UNION ALL
SELECT 'setops' AS src, o_custkey AS key, 'only95' AS bucket FROM
 (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1995
  EXCEPT
  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1996)
UNION ALL
SELECT 'antisemi' AS src, c_custkey AS key, 'none' AS bucket FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
UNION ALL
SELECT 'antisemi' AS src, c_custkey AS key, 'some' AS bucket FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_distinct_agg(spark, sf_dir):
    """Distinct aggregation + exact interpolated percentiles, merged into
    the ONE groupBy they share (r4 registry curation: the former
    q_percentiles entry grouped by the same key, so both operator
    families ride a single shuffle). Spark `percentile` == DuckDB
    `quantile_cont` (both Type-7/linear interpolation)."""
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    pct = lambda p: F.round(F.expr(f"percentile(o_totalprice, {p})"), 2)
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.count("*").alias("n_orders"),
        F.sum(_cents(F.col("o_totalprice"))).alias("total_cents"),
        pct(0.5).alias("p50"), pct(0.9).alias("p90"), pct(0.99).alias("p99"))


Q_DISTINCT_SQL = """
SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS BIGINT) AS total_cents,
       ROUND(quantile_cont(o_totalprice, 0.5), 2)  AS p50,
       ROUND(quantile_cont(o_totalprice, 0.9), 2)  AS p90,
       ROUND(quantile_cont(o_totalprice, 0.99), 2) AS p99
FROM orders GROUP BY o_orderpriority
"""


def q_multidim_agg(spark, sf_dir):
    """Multi-dimensional aggregation family in one result: ROLLUP through
    the DataFrame API (orders) + GROUPING SETS through the SQL surface
    (lineitem; Catalyst Expand operator), schemas aligned by a src label.
    Both are single-shuffle Expand plans — no per-grouping re-scan."""
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    rollup = (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"),
             F.sum(_cents(F.col("o_totalprice"))).alias("agg_val"),
             (F.grouping("o_orderstatus") * 2
              + F.grouping("o_orderpriority")).cast("long").alias("lvl"))
        .select(F.lit("orders_rollup").alias("src"),
                F.coalesce("o_orderstatus", F.lit("ALL")).alias("k1"),
                F.coalesce("o_orderpriority", F.lit("ALL")).alias("k2"),
                "lvl", "n", "agg_val")
    )
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_qss_lineitem")
    gsets = spark.sql("""
        SELECT 'lineitem_gsets' AS src,
               COALESCE(l_returnflag, 'ALL') AS k1,
               COALESCE(l_linestatus, 'ALL') AS k2,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                    AS BIGINT) AS lvl,
               COUNT(*) AS n,
               SUM(CAST(l_quantity AS BIGINT)) AS agg_val
        FROM _qss_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
    """)
    # calendar-bucket aggregation (the former q_date_buckets entry, r4
    # registry curation): year/quarter extraction feeding the same long
    # (src, k1, k2, lvl, n, agg_val) shape
    quarters = (
        o.groupBy(F.year("o_orderdate").alias("y"),
                  F.quarter("o_orderdate").alias("q"))
        .agg(F.count("*").alias("n"),
             F.sum(_cents(F.col("o_totalprice"))).alias("agg_val"))
        .select(F.lit("orders_quarter").alias("src"),
                F.col("y").cast("string").alias("k1"),
                F.col("q").cast("string").alias("k2"),
                F.lit(0).cast("long").alias("lvl"), "n", "agg_val")
    )
    return rollup.unionByName(gsets).unionByName(quarters)


Q_MULTIDIM_SQL = """
SELECT 'orders_rollup' AS src,
       COALESCE(o_orderstatus, 'ALL') AS k1,
       COALESCE(o_orderpriority, 'ALL') AS k2,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
            AS BIGINT) AS lvl,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS BIGINT)
         AS agg_val
FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
UNION ALL
SELECT 'lineitem_gsets' AS src,
       COALESCE(l_returnflag, 'ALL') AS k1,
       COALESCE(l_linestatus, 'ALL') AS k2,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
         AS lvl,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS agg_val
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
UNION ALL
SELECT 'orders_quarter' AS src,
       CAST(year(o_orderdate) AS VARCHAR) AS k1,
       CAST(quarter(o_orderdate) AS VARCHAR) AS k2,
       CAST(0 AS BIGINT) AS lvl, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS BIGINT)
         AS agg_val
FROM orders GROUP BY year(o_orderdate), quarter(o_orderdate)
"""


def q_string_funcs(spark, sf_dir):
    from pyspark.sql import functions as F

    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper(F.substring("p_name", 1, 5)).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("deviled"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"))


Q_STRFN_SQL = """
SELECT p_partkey, UPPER(SUBSTRING(p_name, 1, 5)) AS name_prefix,
       LENGTH(p_name) AS name_len,
       REGEXP_REPLACE(p_name, '[aeiou]', '', 'g') AS deviled,
       CONCAT_WS('/', p_brand, p_type) AS brand_type
FROM part
"""


def q_asof(spark, sf_dir):
    """As-of join (operator Spark lacks; union+window composition)."""
    from pyspark.sql import functions as F

    ev = _events(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us")
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts_us", F.col("event_id").alias("view_event_id"))
    out = asof_join(purchases, views, on="user_id", left_ts="ts_us",
                    right_ts="ts_us", right_cols=["view_event_id"])
    # asof_join emits <col>_r for the matched right row
    return out.select("event_id", "user_id",
                      F.col("view_event_id_r").alias("last_view_id"))


Q_ASOF_SQL = """
SELECT p.event_id AS event_id, p.user_id AS user_id, v.event_id AS last_view_id
FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
      WHERE event_type='purchase') p
ASOF LEFT JOIN (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
                WHERE event_type='view') v
  ON p.user_id = v.user_id AND p.ts_us >= v.ts_us
"""


def q_sessionize(spark, sf_dir):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    new_sess = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    return (
        ev.withColumn("new_sess", new_sess)
        .groupBy("user_id")
        .agg(F.sum("new_sess").alias("n_sessions"),
             F.count("*").alias("n_events"))
    )


Q_SESSION_SQL = """
SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM (SELECT user_id,
             CASE WHEN prev_us IS NULL
                  OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0
             END AS new_sess
      FROM (SELECT user_id, ts,
                   LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                           ORDER BY epoch_us(ts), event_id)
                     AS prev_us
            FROM events))
GROUP BY user_id
"""


def q_time_windows(spark, sf_dir):
    """Time-window aggregation family (batch twin of the Structured
    Streaming windowed aggregations in streaming/): tumbling 1-hour
    windows, plus hopping windows (size 2h, slide 1h) where each event
    lands in exactly two windows — generated by explode, no self-join."""
    from pyspark.sql import functions as F

    US_HOUR = 3_600_000_000
    ev = _events(spark, sf_dir)
    base = F.col("ts_us") - (F.col("ts_us") % F.lit(US_HOUR))
    tumbling = (
        ev.groupBy(base.alias("win_start_us"), F.col("event_type"))
        .agg(F.count("*").alias("n"),
             F.sum(_cents(F.col("value"))).alias("value_cents"))
        .select(F.lit("tumbling").alias("kind"), "win_start_us",
                "event_type", "n", "value_cents")
    )
    hopping = (
        ev.select(F.explode(F.array(base - F.lit(US_HOUR), base))
                  .alias("win_start_us"), "event_type", "value")
        .groupBy("win_start_us", "event_type")
        .agg(F.count("*").alias("n"),
             F.sum(_cents(F.col("value"))).alias("value_cents"))
        .select(F.lit("hopping").alias("kind"), "win_start_us",
                "event_type", "n", "value_cents")
    )
    return tumbling.unionByName(hopping)


Q_TIME_WINDOWS_SQL = """
SELECT 'tumbling' AS kind,
       epoch_us(ts) - (epoch_us(ts) % 3600000000) AS win_start_us, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value*100,0) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'hopping' AS kind, win_start_us, event_type, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value*100,0) AS BIGINT)) AS BIGINT) AS value_cents
FROM (SELECT unnest([epoch_us(ts) - (epoch_us(ts) % 3600000000) - 3600000000,
                     epoch_us(ts) - (epoch_us(ts) % 3600000000)]) AS win_start_us,
             event_type, value
      FROM events) t
GROUP BY 2, 3
"""


def q_topk_global(spark, sf_dir):
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")
    return (
        li.orderBy(F.col("l_extendedprice").desc(), "l_orderkey",
                   "l_linenumber")
        .limit(20)
        .select("l_orderkey", "l_linenumber",
                _cents(F.col("l_extendedprice")).alias("price_cents"))
    )


Q_TOPK_SQL = """
SELECT l_orderkey, l_linenumber, CAST(ROUND(l_extendedprice*100,0) AS BIGINT) AS price_cents
FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20
"""


# ---------------------------------------------------------------------------
# Data-pipeline operators (beyond-reference; SURVEY §2.3)
# ---------------------------------------------------------------------------

def dd_exact(spark, sf_dir):
    """Exact dedup at BOTH granularities in one per-doc report (r11,
    VERDICT r10 Next #3): whole-document canonicalization (min doc_id
    per identical text — the former dedup_exact probe, reshaped per
    doc) joined with cross-corpus PARAGRAPH-level exact dedup
    (operators/dedup.py::paragraph_dedup, 6-token windows — the
    synthetic corpus has no blank-line paragraph marks). Doc-level
    grouping keys on md5(text) so full document text never shuffles."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .operators.dedup import paragraph_dedup

    docs = _t(spark, sf_dir, "documents")
    exact = docs.select(
        "doc_id",
        F.min("doc_id").over(
            Window.partitionBy(F.md5("text"))).alias("exact_canonical"))
    stats = paragraph_dedup(docs, window=6)
    return (exact.join(stats, "doc_id")
            .withColumn("is_exact_dup",
                        F.col("doc_id") != F.col("exact_canonical")))


DD_EXACT_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
paras AS (SELECT doc_id,
                 trim(array_to_string(t[(i*6+1):(i*6+6)], ' ')) AS p
          FROM toks,
               UNNEST(range(0, GREATEST(CAST(CEIL(len(t)/6.0) AS BIGINT),
                                        1))) AS u(i)),
dp AS (SELECT DISTINCT doc_id, md5(p) AS h FROM paras WHERE length(p) > 0),
g AS (SELECT h, COUNT(*) AS n_docs, MIN(doc_id) AS holder
      FROM dp GROUP BY h),
pd AS (SELECT dp.doc_id,
              COUNT(*) AS n_paras,
              CAST(SUM(CASE WHEN g.n_docs >= 2 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_dup_paras,
              CAST(SUM(CASE WHEN g.n_docs >= 2 AND g.holder <> dp.doc_id
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_foreign_paras
       FROM dp JOIN g USING (h) GROUP BY dp.doc_id),
e AS (SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS exact_canonical
      FROM documents)
SELECT e.doc_id, e.exact_canonical,
       pd.n_paras, pd.n_dup_paras, pd.n_foreign_paras,
       CAST(pd.n_dup_paras AS DOUBLE) / pd.n_paras AS para_dup_frac,
       e.doc_id <> e.exact_canonical AS is_exact_dup
FROM e JOIN pd ON e.doc_id = pd.doc_id
"""


def dd_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return jaccard_pairs(docs, n=3, threshold=0.5)


DD_JACCARD_SQL = _DD_JACCARD_SQL  # (moved to queries_common)


def dd_simhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return simhash(docs)


def _simhash_sql() -> str:
    sums = ",\n       ".join(
        f"SUM(CASE WHEN (h >> {k}) & 1 = 1 THEN 1 ELSE -1 END) AS s{k}"
        for k in range(SIMHASH_BITS))
    bits = " + ".join(
        f"CASE WHEN s{k} > 0 THEN {1 << k} ELSE 0 END"
        for k in range(SIMHASH_BITS))
    return f"""
WITH toks AS (SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS tok
              FROM documents),
h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h
      FROM toks),
agg AS (SELECT doc_id,
       {sums}
FROM h GROUP BY doc_id)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM agg
"""


DD_SIMHASH_SQL = _simhash_sql()


def tx_stats(spark, sf_dir):
    """Quality stats + token counting (whitespace AND regex conventions)
    in one projection over documents."""
    return text_stats(_t(spark, sf_dir, "documents"))


_STOP_SQL_EARLY = "[" + ", ".join(f"'{s}'" for s in STOPWORDS_EN) + "]"

TX_STATS_SQL = f"""
WITH t AS (SELECT doc_id, text,
                  regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
           FROM documents)
SELECT doc_id,
       LENGTH(text) AS n_chars_measured,
       len(regexp_split_to_array(trim(text), '\\s+')) AS ws_tokens,
       len(toks) AS n_tokens,
       ROUND(list_sum(list_transform(toks, t -> len(t)))::DOUBLE
             / GREATEST(len(toks), 1), 4) AS avg_token_len,
       ROUND(len(list_filter(toks, t -> list_contains({_STOP_SQL_EARLY}, t)))::DOUBLE
             / GREATEST(len(toks), 1), 4) AS stopword_ratio,
       ROUND(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
             / GREATEST(LENGTH(text), 1), 4) AS alpha_ratio,
       ROUND(LENGTH(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))::DOUBLE
             / GREATEST(LENGTH(text), 1), 4) AS punct_ratio
FROM t
"""


def tx_lang(spark, sf_dir):
    """Language-ID + document fingerprint in one projection (the
    fingerprint rides along in the same pass — no second scan/join)."""
    return language_guess(_t(spark, sf_dir, "documents"),
                          include_fingerprint=True)


_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in STOPWORDS_EN) + "]"

def _tri_sql() -> str:
    """Sum of trigram occurrence counts via length-difference, matching
    operators.text.language_guess exactly."""
    from .operators.text import EN_TRIGRAMS

    terms = [
        f"(LENGTH(lower(text)) - LENGTH(replace(lower(text), '{t}', ''))) / 3"
        for t in EN_TRIGRAMS
    ]
    return " + ".join(terms)


TX_LANG_SQL = f"""
WITH t AS (SELECT doc_id, text,
                  regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
           FROM documents),
s AS (SELECT doc_id,
             len(list_filter(toks, t -> list_contains({_STOP_SQL}, t)))::DOUBLE
               / GREATEST(len(toks), 1) AS ratio,
             ({_tri_sql()})::DOUBLE
               / GREATEST(LENGTH(lower(text)), 1) AS tri,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM t)
SELECT doc_id,
       ROUND(ratio, 4) AS en_score,
       ROUND(tri, 4) AS trigram_score,
       CASE WHEN ratio >= 0.05 AND tri >= 0.01
            THEN 'en' ELSE 'unk' END AS lang_guess,
       fp AS fingerprint
FROM s
"""


def tx_analysis(spark, sf_dir):
    """The full text-analysis battery — quality stats, token counting
    (both conventions), language-ID, fingerprint — as ONE single-pass
    projection (operators/text.py::text_analysis), plus training-set
    DECONTAMINATION: 13-gram overlap against an eval slice (doc_id % 20
    == 7 stands in for the benchmark corpus), broadcast-joined back as
    contam_hits/contaminated. Merges the former text_stats and
    text_lang_fingerprint probes; every column survives under the
    oracle."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    from .operators.text import decontaminate

    docs = _t(spark, sf_dir, "documents")
    base = text_analysis(docs)
    ev = docs.where(F.col("doc_id") % 20 == 7)
    contam = decontaminate(docs, ev, n=13, exclude_self=True)
    return (base.join(broadcast(contam), "doc_id", "left")
            .withColumn("contam_hits",
                        F.coalesce(F.col("contam_hits"), F.lit(0))
                        .cast("long"))
            .withColumn("contaminated", F.col("contam_hits") > 0))


TX_ANALYSIS_SQL = f"""
WITH t AS (SELECT doc_id, text,
                  regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
           FROM documents),
s AS (SELECT doc_id, text, toks,
             len(list_filter(toks, t -> list_contains({_STOP_SQL}, t)))::DOUBLE
               / GREATEST(len(toks), 1) AS ratio,
             ({_tri_sql()})::DOUBLE
               / GREATEST(LENGTH(text), 1) AS tri
      FROM t)
SELECT doc_id,
       LENGTH(text) AS n_chars_measured,
       len(regexp_split_to_array(trim(text), '\\s+')) AS ws_tokens,
       len(toks) AS n_tokens,
       ROUND(list_sum(list_transform(toks, t -> len(t)))::DOUBLE
             / GREATEST(len(toks), 1), 4) AS avg_token_len,
       ROUND(ratio, 4) AS stopword_ratio,
       ROUND(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
             / GREATEST(LENGTH(text), 1), 4) AS alpha_ratio,
       ROUND(LENGTH(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))::DOUBLE
             / GREATEST(LENGTH(text), 1), 4) AS punct_ratio,
       ROUND(ratio, 4) AS en_score,
       ROUND(tri, 4) AS trigram_score,
       CASE WHEN ratio >= 0.05 AND tri >= 0.01
            THEN 'en' ELSE 'unk' END AS lang_guess,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
       COALESCE(ch.contam_hits, 0) AS contam_hits,
       COALESCE(ch.contam_hits, 0) > 0 AS contaminated
FROM s
LEFT JOIN (
    WITH cg AS (SELECT t2.doc_id,
                       array_to_string(toks[i+1:i+13], ' ') AS gram
                FROM t AS t2,
                     UNNEST(range(GREATEST(len(toks)-12, 0))) AS u(i)),
         evg AS (SELECT DISTINCT doc_id AS eval_id, gram
                 FROM cg WHERE doc_id % 20 = 7)
    SELECT cg.doc_id, count(DISTINCT cg.gram) AS contam_hits
    FROM cg JOIN evg ON cg.gram = evg.gram AND cg.doc_id != evg.eval_id
    GROUP BY cg.doc_id
) AS ch USING (doc_id)
"""


def sim_topk(spark, sf_dir):
    """ANN top-k family in one result: brute-force cosine (the exact
    correctness baseline — broadcast query side, shuffle only at the
    per-query top-k window), IVF (broadcast centroids + equi-join on
    centroid id, the scale path), and int8-quantized cosine (the
    4x-memory serving path, operators/embeddings.py), labeled by
    method."""
    from pyspark.sql import functions as F

    from .operators.embeddings import quantized_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.where(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_embedding")))
    brute = (cosine_topk(emb.where(F.col("vec_id") >= 5), queries, k=10)
             .withColumn("method", F.lit("brute")))
    # bounded K: `% 50` alone made the centroid count scale WITH the
    # table (K = N/50), turning the broadcast assignment join into
    # O(N^2/50) — the sf10 soak measured sim_topk at 2.2x over linear
    # before the cap. Real IVF keeps K ~ fixed/sqrt(N); the vec_id cap
    # bounds K at 200 without changing results at the oracle scales
    # (every vec_id there is < 10000)
    centroids = (emb.where((F.col("vec_id") % 50 == 0)
                           & (F.col("vec_id") < 10000))
                 .select(F.col("vec_id").alias("c_id"),
                         F.col("embedding").alias("c_embedding")))
    ivf = (ivf_topk(emb.where(F.col("vec_id") >= 5), queries, centroids, k=5)
           .withColumn("method", F.lit("ivf")))
    q8 = (quantized_topk(emb.where(F.col("vec_id") >= 5), queries, k=5)
          .withColumn("method", F.lit("q8")))
    return brute.unionByName(ivf).unionByName(q8)


SIM_TOPK_BRUTE_SQL = """
SELECT 'brute' AS method, q_id, vec_id, cos, rank FROM (
  SELECT q.vec_id AS q_id, v.vec_id AS vec_id,
         ROUND(list_cosine_similarity(v.embedding::DOUBLE[],
                                      q.embedding::DOUBLE[]), 6) AS cos,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(v.embedding::DOUBLE[],
                                           q.embedding::DOUBLE[]) DESC,
                    v.vec_id) AS rank
  FROM embeddings v, embeddings q
  WHERE q.vec_id < 5 AND v.vec_id >= 5)
WHERE rank <= 10
"""


def sim_pairs(spark, sf_dir):
    """Near-dup pair family in one result: exact all-pairs cosine (the
    documented O(n^2) correctness baseline, capped to 300 vectors) and
    hyperplane-LSH bucketed pairs (the scale path: equi-join on bucket
    signature + exact rerank), labeled by method."""
    from pyspark.sql import functions as F

    from .operators.similarity import embedding_lsh_pairs

    emb = _t(spark, sf_dir, "embeddings")
    # exact_ok: the <300 filter IS the cap — skip the guard's bounded
    # count probe (operators/similarity.MAX_EXACT_PAIR_VECTORS) so the
    # benched entry stays an apples-to-apples read-side timing
    exact = (cosine_pairs(emb.where(F.col("vec_id") < 300), threshold=0.4,
                          exact_ok=True)
             .withColumn("method", F.lit("exact")))
    lsh = (embedding_lsh_pairs(emb, threshold=0.3, n_bits=8)
           .withColumn("method", F.lit("lsh")))
    return exact.unionByName(lsh)


SIM_PAIRS_SQL = """
SELECT 'exact' AS method, a.vec_id AS id1, b.vec_id AS id2,
       ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 6) AS cos
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id AND a.vec_id < 300 AND b.vec_id < 300
  AND ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[]), 6) >= 0.4
UNION ALL
SELECT 'lsh' AS method, id1, id2, cos FROM (
  WITH tagged AS (
    SELECT vec_id, embedding,
           list_aggregate(list_transform(embedding[1:8],
                          x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END),
                          'string_agg', '') AS bkt
    FROM embeddings)
  SELECT a.vec_id AS id1, b.vec_id AS id2,
         ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]), 6) AS cos
  FROM tagged a JOIN tagged b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
  WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                     b.embedding::DOUBLE[]), 6) >= 0.3)
"""


_SIM_IVF_SQL = """
WITH cents AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
               WHERE vec_id % 50 = 0 AND vec_id < 10000),
v_assign AS (
  SELECT vec_id, embedding, c_id FROM (
    SELECT v.vec_id, v.embedding, c.c_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(v.embedding::DOUBLE[],
                                             c.c_emb::DOUBLE[]) DESC, c.c_id)
             AS rk
    FROM embeddings v, cents c WHERE v.vec_id >= 5)
  WHERE rk = 1),
q_assign AS (
  SELECT q_id, q_emb, c_id FROM (
    SELECT q.vec_id AS q_id, q.embedding AS q_emb, c.c_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                             c.c_emb::DOUBLE[]) DESC, c.c_id)
             AS rk
    FROM embeddings q, cents c WHERE q.vec_id < 5)
  WHERE rk = 1)
SELECT q_id, vec_id, cos, rank FROM (
  SELECT q.q_id, v.vec_id,
         ROUND(list_cosine_similarity(v.embedding::DOUBLE[],
                                      q.q_emb::DOUBLE[]), 6) AS cos,
         ROW_NUMBER() OVER (PARTITION BY q.q_id
           ORDER BY list_cosine_similarity(v.embedding::DOUBLE[],
                                           q.q_emb::DOUBLE[]) DESC, v.vec_id)
           AS rank
  FROM v_assign v JOIN q_assign q ON v.c_id = q.c_id)
WHERE rank <= 5
"""

# int8-quantized lane: the arithmetic mirrors operators/embeddings.py
# bit-for-bit — floor(x/s + 0.5) quantizer (floor, not round: DuckDB
# round() is half-away-from-zero, Java HALF_UP; floor agrees), exact
# integer dot products, and the same multiplication association
# ((dot*sa)*sb) / ((sqrt(ii)*sa)*(sqrt(jj)*sb)). Ranking uses the
# ROUNDED cos on both engines so discrete quantized ties break
# identically (by vec_id).
_SIM_Q8_SQL = """
WITH q8 AS (
  SELECT vec_id,
         CASE WHEN amax > 0 THEN
           list_transform(emb, x -> CAST(floor(x / (amax/127.0) + 0.5)
                                         AS BIGINT))
         ELSE list_transform(emb, x -> CAST(0 AS BIGINT)) END AS q,
         amax / 127.0 AS s
  FROM (SELECT vec_id, embedding::DOUBLE[] AS emb,
               list_max(list_transform(embedding::DOUBLE[],
                                       x -> abs(x))) AS amax
        FROM embeddings))
SELECT q_id, vec_id, cos, rank FROM (
  SELECT q.vec_id AS q_id, v.vec_id AS vec_id,
         ROUND(((list_dot_product(v.q, q.q) * v.s) * q.s)
               / ((sqrt(list_dot_product(v.q, v.q)) * v.s)
                  * (sqrt(list_dot_product(q.q, q.q)) * q.s)), 6) AS cos,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY ROUND(((list_dot_product(v.q, q.q) * v.s) * q.s)
               / ((sqrt(list_dot_product(v.q, v.q)) * v.s)
                  * (sqrt(list_dot_product(q.q, q.q)) * q.s)), 6) DESC,
             v.vec_id) AS rank
  FROM q8 v, q8 q WHERE q.vec_id < 5 AND v.vec_id >= 5)
WHERE rank <= 5
"""

SIM_TOPK_SQL = (SIM_TOPK_BRUTE_SQL
                + "\nUNION ALL\nSELECT 'ivf' AS method, q_id, vec_id, cos,"
                  " rank FROM (" + _SIM_IVF_SQL + ")"
                + "\nUNION ALL\nSELECT 'q8' AS method, q_id, vec_id, cos,"
                  " rank FROM (" + _SIM_Q8_SQL + ")")


def mm_decode(spark, sf_dir):
    """Real media-header decode over binary columns, one labeled result:
    'image' rows decode PNG dimensions (payloads are structurally valid
    PNG headers built as JVM expressions, parsed back byte-wise in an
    Arrow-batched mapInPandas), 'audio' rows decode RIFF/WAVE sample rate
    and frame count from complete generated PCM16 WAV files, and 'meta'
    rows carry typed binary metadata (byte length + sha256 — the former
    mm_binary_metadata entry, r4 registry curation: same documents scan,
    the hex digest rides the string-typed format column). All decode
    paths are real parsers; all payload generators are deterministic
    functions of doc columns, so the oracle is exact."""
    from pyspark.sql import functions as F

    from .operators.multimodal import (decode_audio_headers,
                                       decode_image_headers,
                                       png_payload_col, wav_payload_col)

    docs = _t(spark, sf_dir, "documents")
    w = F.lit(64) + F.col("doc_id") % 512
    h = F.lit(64) + F.col("n_chars") % 512
    img = decode_image_headers(
        docs.select("doc_id", png_payload_col(w, h).alias("payload"))
    ).select("doc_id", F.lit("image").alias("kind"), "format",
             F.col("width").cast("long").alias("d1"),
             F.col("height").cast("long").alias("d2"))
    sr = F.lit(8000) + (F.col("doc_id") % 8) * 1000
    nf = F.lit(1000) + F.col("n_chars") % 4096
    aud = decode_audio_headers(
        docs.select("doc_id", wav_payload_col(sr, nf).alias("payload"))
    ).select("doc_id", F.lit("audio").alias("kind"), "format",
             F.col("sample_rate").cast("long").alias("d1"),
             F.col("n_frames").alias("d2"))
    meta = binary_metadata(with_binary_payload(docs, "text")).select(
        "doc_id", F.lit("meta").alias("kind"),
        F.col("sha256").alias("format"),
        F.col("n_bytes").cast("long").alias("d1"),
        F.lit(0).cast("long").alias("d2"))
    return img.unionByName(aud).unionByName(meta)


MM_DECODE_SQL = """
SELECT doc_id, 'image' AS kind, 'png' AS format,
       CAST(64 + doc_id % 512 AS BIGINT) AS d1,
       CAST(64 + n_chars % 512 AS BIGINT) AS d2
FROM documents
UNION ALL
SELECT doc_id, 'audio' AS kind, 'wav' AS format,
       CAST(8000 + (doc_id % 8) * 1000 AS BIGINT) AS d1,
       CAST(1000 + n_chars % 4096 AS BIGINT) AS d2
FROM documents
UNION ALL
SELECT doc_id, 'meta' AS kind, sha256(text) AS format,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS d1,
       CAST(0 AS BIGINT) AS d2
FROM documents
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

# name -> (spark_fn, oracle_sql or None for rows-only checks)
QUERIES: Dict[str, Tuple[Callable, Optional[str]]] = {
    # qbeast-native surface
    "qb_roundtrip": (qb_roundtrip, QB_ROUNDTRIP_SQL),
    "qb_dml": (qb_dml, QB_DML_SQL),
    "qb_range_read": (qb_range_read, QB_RANGE_READ_SQL),
    "qb_sql_view": (qb_sql_view, QB_SQL_VIEW_SQL),
    "qb_sample": (qb_sample, QB_SAMPLE_SQL),
    # relational surface (delegated operators)
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "q3_shipping_priority": (q3_shipping_priority, Q3_SQL),
    "q5_local_supplier": (q5_local_supplier, Q5_SQL),
    "q6_forecast_revenue": (q6_forecast_revenue, Q6_SQL),
    "q_top_orders_per_customer": (q_top_orders_per_customer, Q_TOPN_SQL),
    "q_window_funcs": (q_window_funcs, Q_WINDOW_FUNCS_SQL),
    "q_set_ops": (q_set_ops, Q_SETOPS_SQL),
    "q_distinct_agg": (q_distinct_agg, Q_DISTINCT_SQL),
    "q_multidim_agg": (q_multidim_agg, Q_MULTIDIM_SQL),
    "q_string_funcs": (q_string_funcs, Q_STRFN_SQL),
    "q_asof_join": (q_asof, Q_ASOF_SQL),
    "q_sessionize": (q_sessionize, Q_SESSION_SQL),
    "q_time_windows": (q_time_windows, Q_TIME_WINDOWS_SQL),
    "q_topk_global": (q_topk_global, Q_TOPK_SQL),
    # data-pipeline operators (dedup_minhash_sigs / dedup_lsh_pairs stay
    # implemented+pytest-covered; the registered dedup_lsh_scored query
    # exercises signatures -> banding -> candidate pairs -> scoring)
    "dedup_exact": (dd_exact, DD_EXACT_SQL),
    "dedup_ngram_jaccard": (dd_jaccard, DD_JACCARD_SQL),
    "dedup_simhash": (dd_simhash, DD_SIMHASH_SQL),
    # tx_stats / tx_lang stay implemented + pytest-covered; the registered
    # text_analysis probe is their single-pass merge (every column kept)
    "text_analysis": (tx_analysis, TX_ANALYSIS_SQL),
    "sim_topk": (sim_topk, SIM_TOPK_SQL),
    "sim_pairs": (sim_pairs, SIM_PAIRS_SQL),
    "mm_decode_headers": (mm_decode, MM_DECODE_SQL),
}


def _merge_ext() -> None:
    """Fold in the extended relational/analytic surface (queries_ext.py);
    deferred import because queries_ext imports helpers from this module."""
    from .queries_ext import EXT_QUERIES

    QUERIES.update(EXT_QUERIES)


_merge_ext()


def spark_queries() -> Dict[str, Callable]:
    return {name: fn for name, (fn, _sql) in QUERIES.items()}


def oracle_queries() -> Dict[str, str]:
    return {name: sql for name, (_fn, sql) in QUERIES.items()
            if sql is not None}


def flagship(spark, sf_dir: str = "/root/testdata/sf0.001"):
    """The flagship demo (README.md:50-55 analogue): indexed table + pruned
    sampled aggregate — used by __spark_entry__.entry."""
    return q1_pricing_summary(spark, sf_dir)

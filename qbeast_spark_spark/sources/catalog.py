"""SQL statement surface for qbeast tables (C1 at the Python level).

The reference exposes qbeast through a DSv2 catalog plugin —
``CREATE TABLE ... USING qbeast``, CTAS / REPLACE staging, ``INSERT
INTO``, ``ALTER TABLE SET TBLPROPERTIES`` (catalog/QbeastCatalog.scala:
48-355, catalog/QbeastCatalogUtils.scala:124-315, docs/Quickstart.md).
Spark 4.1 cannot host that plugin from Python: catalog readers receive
EMPTY options (negative probe pinned in tests/test_pyds.py), so the
statement surface lives one level up instead. ``qsql(spark, stmt)``:

- routes by statement HEAD the verbs it owns outright (CREATE/DROP/
  ALTER TABLE, INSERT, TRUNCATE, DESCRIBE, SHOW) and the ones Spark's
  parser cannot read (OPTIMIZE, VACUUM, RESTORE; ``DESCRIBE HISTORY``
  would parse as a DescribeColumn) through the native pipeline;
- parses every other statement ONCE with the session's own Catalyst
  parser. DELETE, UPDATE and MERGE on a catalog table take their
  target, condition, assignments and clauses from that plan and run
  through sources/dml.py; anything else is handed to ``spark.sql``
  after each catalog-table reference is bound to a temp view.

Binding follows the reference's per-relation filter attribution
(QuerySpecBuilder.scala:51-77, DefaultFileIndex.scala:47-57), done by
one walk of the unresolved plan:

- ``name VERSION AS OF n`` / ``name TIMESTAMP AS OF 'ts'`` bind a
  time-travel view of that snapshot;
- ``name TABLESAMPLE (x PERCENT)`` binds the index-pruned deterministic
  sample (the SampleRule.scala:44-107 analogue);
- a reference that WHERE conjuncts reach binds the FILE-PRUNED scan for
  them. Conjuncts flow down only through Filter, SubqueryAlias, inner
  and cross joins and the preserved side of LEFT/RIGHT joins, so they
  are facts about every stored row the reference yields; any other
  node drops them. The WHERE stays in the statement — the view only
  shrinks the file list and Spark applies the predicate exactly once;
- any other reference mounts the full table under its bare name.

Each reference is replaced at its parsed origin span, so string
literals, comments, backticks, ``default.`` qualifiers and CTE names
(which shadow catalog names) are read exactly as Spark reads them.

Metastore: one JSON file per warehouse (``_qbeast_catalog.json``)
read-modify-written under an ``fcntl.flock`` + atomic tmp/rename —
same discipline as sources/log.py. The metastore holds only the
name -> {location, managed, options, comment} binding; TABLE
properties live in the table's own commit log (``set_properties``),
so writers on other hosts observe them transactionally.
"""
from __future__ import annotations

import fcntl
import itertools
import json
import os
import re
import shutil
import tempfile
from typing import Any, Dict, List, Optional, Tuple

CATALOG_FILE = "_qbeast_catalog.json"
CATALOG_LOCK = "_qbeast_catalog.lock"

# synthesized temp-view names get a process-wide sequence number so two
# threads sharing one SparkSession can never clobber each other's
# pruned/sampled/time-travel view between registration and spark.sql
_VIEW_SEQ = itertools.count()

_IDENT = r"(?:`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)"
# one- or two-part name; the leading part must be `default` (flat store)
_NAME = rf"(?:{_IDENT}\.)?{_IDENT}"


def _unquote_ident(tok: str) -> str:
    tok = tok.strip()
    if tok.startswith("`") and tok.endswith("`"):
        tok = tok[1:-1]
    return tok


def _normalize_name(raw: str) -> str:
    """Lower-case, strip backticks, accept an optional ``default.``
    qualifier (the metastore is a flat namespace, like the reference's
    session-catalog default database)."""
    parts = [_unquote_ident(p) for p in raw.split(".")]
    if len(parts) == 2 and parts[0].lower() == "default":
        parts = parts[1:]
    if len(parts) != 1:
        raise ValueError(
            f"qbeast SQL catalog is a flat namespace; got {raw!r} "
            "(use `name` or `default.name`)")
    name = parts[0].lower()
    if not re.fullmatch(r"[a-z_][a-z0-9_]*", name):
        raise ValueError(f"invalid table name {raw!r}")
    return name


def _strip_comments(stmt: str) -> str:
    """Remove -- and /* */ comments, respecting quoted strings."""
    out, i, n = [], 0, len(stmt)
    while i < n:
        c = stmt[i]
        if c in ("'", '"', "`"):
            j = _skip_quoted(stmt, i)
            out.append(stmt[i:j])
            i = j
        elif c == "-" and stmt[i:i + 2] == "--":
            j = stmt.find("\n", i)
            i = n if j < 0 else j
        elif c == "/" and stmt[i:i + 2] == "/*":
            j = stmt.find("*/", i + 2)
            if j < 0:
                raise ValueError("unterminated /* comment")
            i = j + 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _skip_quoted(s: str, i: int) -> int:
    """``s[i]`` opens a quote; return the index just past its close.
    Single quotes double-escape ('' inside '...')."""
    q = s[i]
    j = i + 1
    n = len(s)
    while j < n:
        if s[j] == "\\" and q != "`":
            j += 2
            continue
        if s[j] == q:
            if q == "'" and j + 1 < n and s[j + 1] == "'":
                j += 2
                continue
            return j + 1
        j += 1
    raise ValueError(f"unterminated {q} quote in statement")


def _mask_quotes(s: str) -> str:
    """Copy of ``s`` with the CONTENTS of every quoted region replaced
    by spaces (same length, delimiters kept), so a keyword search
    cannot be fooled by literal text."""
    out, i, n = list(s), 0, len(s)
    while i < n:
        if s[i] in ("'", '"', "`"):
            j = _skip_quoted(s, i)
            out[i + 1:j - 1] = " " * (j - i - 2)
            i = j
        else:
            i += 1
    return "".join(out)


def _balanced_paren(s: str, i: int) -> int:
    """``s[i]`` is '('; return index just past the matching ')'."""
    depth = 0
    n = len(s)
    while i < n:
        c = s[i]
        if c in ("'", '"', "`"):
            i = _skip_quoted(s, i)
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    raise ValueError("unbalanced parentheses in statement")


def _split_top_level_commas(s: str) -> List[str]:
    parts, buf, i, n = [], [], 0, len(s)
    depth = 0
    while i < n:
        c = s[i]
        if c in ("'", '"', "`"):
            j = _skip_quoted(s, i)
            buf.append(s[i:j])
            i = j
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if c == "," and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(c)
        i += 1
    tail = "".join(buf).strip()
    if tail:
        parts.append(tail)
    return parts


def _parse_kv_list(body: str) -> Dict[str, str]:
    """Parse the body of OPTIONS(...) / TBLPROPERTIES(...):
    ``'k'='v', k2=3, `k3` "v3"`` — keys and values may be quoted with
    ' " or backticks, separated by = or whitespace."""
    out: Dict[str, str] = {}
    for item in _split_top_level_commas(body):
        if not item:
            continue
        m = re.match(r"\s*('(?:[^']|'')*'|\"[^\"]*\"|`[^`]+`|[\w.\-]+)"
                     r"\s*(?:=|\s)\s*"
                     r"('(?:[^']|'')*'|\"[^\"]*\"|[^\s].*?)\s*$", item)
        if not m:
            raise ValueError(f"cannot parse option entry {item!r}")
        out[_unquote_lit(m.group(1))] = _unquote_lit(m.group(2))
    return out


def _unquote_lit(tok: str) -> str:
    tok = tok.strip()
    if len(tok) >= 2 and tok[0] == tok[-1] and tok[0] in ("'", '"', "`"):
        inner = tok[1:-1]
        if tok[0] == "'":
            # decode the two escapes this dialect EMITS (SHOW CREATE's
            # q1): doubled quote and doubled backslash. Other \x pairs
            # stay literal (the span scanner skips them; they were never
            # decoded and changing that would reinterpret existing
            # stored option values).
            out, i, n = [], 0, len(inner)
            while i < n:
                two = inner[i:i + 2]
                if two == "''":
                    out.append("'")
                    i += 2
                elif two == "\\\\":
                    out.append("\\")
                    i += 2
                else:
                    out.append(inner[i])
                    i += 1
            return "".join(out)
        return inner
    return tok


def _local_location(loc: str) -> str:
    """Normalize a LOCATION to an absolute local path. ``file:`` URIs are
    accepted and stripped; any OTHER scheme (s3://, gs://, abfss://, ...)
    is rejected loudly — os.path.abspath would silently rewrite
    ``s3://bucket/x`` into a bogus cwd-relative local path and create the
    table somewhere unintended. This engine's metastore/commit log is
    local-filesystem only (object stores need a ConditionalPutPublisher
    wired by the caller, see sources/log.py)."""
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.\-]*)://", loc)
    if m:
        if m.group(1).lower() != "file":
            raise ValueError(
                f"unsupported LOCATION scheme {m.group(1)!r} in {loc!r}: "
                "this catalog manages local-filesystem tables only "
                "(file: or a plain path)")
        auth = re.match(r"(?i)^file://([^/]*)", loc).group(1)
        if auth.lower() not in ("", "localhost"):
            # 'file://data/tables/t' (a relative path missing a slash)
            # would otherwise silently lose its first segment — the
            # same mislocation failure the scheme check exists to stop
            raise ValueError(
                f"file: LOCATION with a remote authority {auth!r} in "
                f"{loc!r}: use file:///absolute/path or a plain path")
        loc = re.sub(r"^file://[^/]*", "", loc, flags=re.IGNORECASE)
    elif loc.lower().startswith("file:"):
        loc = loc[5:]
    return os.path.abspath(loc)


# -- Catalyst plan access -----------------------------------------------------
#
# The unresolved plan is read through py4j, one call per accessor, so
# the walk reads only what it uses. Every node and expression carries
# its origin span in the parsed text (code-point offsets), which is
# where the rewrites edit it.

_ORIGIN_RX = re.compile(
    r"Origin\((?:Some\(\d+\)|None),(?:Some\(\d+\)|None),"
    r"Some\((\d+)\),Some\((\d+)\),")
_SEP = "\u0001"
_PERCENT_RX = re.compile(r"(?i)TABLESAMPLE\s*\(\s*([\d.]+)\s+PERCENT\s*\)")
# join types a WHERE conjunct crosses: (left side, right side) keeps it
_JOIN_PASS = {"Inner": (True, True), "Cross": (True, True),
              "LeftOuter": (True, False), "RightOuter": (False, True)}
# delegated statements that store their UNRESOLVED plan and re-resolve
# it on every later reference (storeAnalyzedPlanForView=false)
_DEFINES_VIEW = ("CreateViewCommand", "CacheTableAsSelect", "CacheTable")
_PLAN_EXPRESSION: Dict[int, Any] = {}


def _parse(spark, stmt: str):
    return spark._jsparkSession.sessionState().sqlParser().parsePlan(stmt)


def _plan_expression(spark):
    """TreePattern.PLAN_EXPRESSION, looked up once per JVM."""
    key = id(spark._jvm)
    if key not in _PLAN_EXPRESSION:
        _PLAN_EXPRESSION[key] = spark._jvm.org.apache.spark.sql.catalyst \
            .trees.TreePattern.PLAN_EXPRESSION()
    return _PLAN_EXPRESSION[key]


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _span(node) -> Optional[Tuple[int, int]]:
    """``node``'s half-open origin span, or None (parser-made nodes)."""
    m = _ORIGIN_RX.match(node.origin().toString())
    return (int(m.group(1)), int(m.group(2)) + 1) if m else None


def _parts(seq) -> List[str]:
    """A Scala ``Seq[String]`` of name parts, in one call."""
    return seq.mkString(_SEP).split(_SEP)


def _column(attr) -> str:
    """An UnresolvedAttribute's column name (qualifier dropped)."""
    return _parts(attr.nameParts())[-1]


def _conjuncts(expr) -> list:
    if expr.nodeName() == "And":
        return _conjuncts(expr.left()) + _conjuncts(expr.right())
    return [expr]


def _catalog_name(parts: List[str], entries, ctes=frozenset()):
    """The catalog table a relation name denotes, or None. A CTE in
    scope shadows a bare name, never a ``default.`` one."""
    if len(parts) == 2 and parts[0].lower() == "default":
        parts = parts[1:]
    elif len(parts) == 1 and parts[0].lower() in ctes:
        return None
    name = parts[0].lower() if len(parts) == 1 else None
    return name if name in entries else None


def _own_qualifiers(name: str, alias: Optional[str]):
    """Qualifier -> replacement map that cuts a relation's own
    qualifier from its attributes (``t.col`` -> ``col``)."""
    if alias:
        return {(alias.lower(),): ""}
    return {(name,): "", ("default", name): ""}


class _Expr:
    """An unresolved expression as source text. Its span starts at the
    earlier of its own origin and its first leaf's: BETWEEN, IN, LIKE
    and IS NULL nodes start at their keyword, after their subject. The
    JVM is read once, on first use."""

    __slots__ = ("node", "_info")

    def __init__(self, node):
        self.node = node
        self._info = None

    def _read(self):
        own = _span(self.node)
        if own is None:
            return None
        start, stop = own
        attrs = []
        for i, leaf in enumerate(_seq(self.node.collectLeaves())):
            is_attr = leaf.nodeName() == "UnresolvedAttribute"
            if not (is_attr or i == 0):
                continue
            sp = _span(leaf)
            if sp is None:
                continue
            if i == 0:
                start = min(start, sp[0])
            if is_attr and start <= sp[0] and sp[1] <= stop:
                attrs.append((sp, _parts(leaf.nameParts())))
        return start, stop, sorted(attrs)

    def text(self, stmt: str, renames) -> Optional[str]:
        """Source text with each attribute whose lower-cased qualifier
        is a key of ``renames`` respelled as ``renames[q] + column``."""
        if self._info is None:
            self._info = self._read() or (0, 0, [])
        pos, stop, attrs = self._info
        if pos == stop:
            return None
        out = []
        for (a, b), parts in attrs:
            new = renames.get(tuple(p.lower() for p in parts[:-1]))
            if new is not None:
                col = new + parts[-1]
                if not re.fullmatch(r"[A-Za-z_]\w*", col):
                    col = "`" + col.replace("`", "``") + "`"
                out += [stmt[pos:a], col]
                pos = b
        out.append(stmt[pos:stop])
        return "".join(out)


class _Ref:
    """One catalog-table reference found by ``_table_refs``: its name,
    the text span to replace, and how to bind it."""

    def __init__(self, name, start, stop, alias, qualified, conjuncts,
                 travel=None, percent=None):
        self.name, self.start, self.stop = name, start, stop
        self.alias, self.qualified = alias, qualified
        self.conjuncts, self.travel, self.percent = conjuncts, travel, percent

    def pruning_hint(self, stmt: str) -> Optional[str]:
        """The AND of this reference's conjuncts that the DNF translator
        reads, its own qualifier cut; None when none is. Dropping a
        conjunct only widens the file list."""
        from .predicates import to_dnf_filters

        quals = _own_qualifiers(self.name, self.alias)
        kept = []
        for c in self.conjuncts:
            text = c.text(stmt, quals)
            try:
                if text and to_dnf_filters(text) is not None:
                    kept.append(f"({text})")
            except Exception:
                continue
        return " AND ".join(kept) or None


def _table_refs(spark, plan, stmt: str, entries) -> List[_Ref]:
    """Every catalog-table reference in ``plan``, with the WHERE
    conjuncts that reach it. One walk: conjuncts flow down only through
    Filter, SubqueryAlias, inner/cross joins and the preserved side of
    LEFT/RIGHT joins; plans held outside ``children()`` (CTE bodies,
    subquery expressions, time-travel relations) start with none.
    Expression subtrees are searched for subqueries only where the tree
    pattern bits say one exists."""
    pe = _plan_expression(spark)
    refs: List[_Ref] = []

    def relation(node, conj, alias, sample, ctes):
        rtt = None
        if node.nodeName() == "RelationTimeTravel":
            rtt, node = node, node.relation()
            if node.nodeName() != "UnresolvedRelation":
                return walk(node, [], None, None, ctes, True)
        parts = _parts(node.multipartIdentifier())
        name = _catalog_name(parts, entries, ctes)
        if name is None:
            return
        ref = _Ref(name, *_span(node), alias, len(parts) > 1, conj)
        if rtt is not None:
            ref.stop = max(ref.stop, _span(rtt)[1])
            version = rtt.version()
            if version.isDefined():
                ref.travel = {"version": int(version.get())}
            else:
                a, b = _span(rtt.timestamp().get())
                ref.travel = {"timestamp": _unquote_lit(stmt[a:b])}
        elif sample is not None:
            a, b = _span(sample)
            m = _PERCENT_RX.fullmatch(stmt[a:b])
            if m:
                ref.percent, ref.stop = float(m.group(1)), max(ref.stop, b)
        refs.append(ref)

    def walk(node, conj, alias, sample, ctes, subq):
        kind = node.nodeName()
        if subq:
            subq = node.containsPattern(pe)
            if subq:
                for sub in _seq(node.subqueries()):
                    walk(sub, [], None, None, ctes, True)
        if kind in ("UnresolvedRelation", "RelationTimeTravel"):
            relation(node, conj, alias, sample, ctes)
        elif kind == "UnresolvedWith":
            rels = [(r._1().lower(), r._2())
                    for r in _seq(node.cteRelations())]
            every = ctes | {n for n, _ in rels}
            recursive, seen = node.allowRecursion(), ctes
            for n, body in rels:   # a body sees the CTEs before it
                walk(body.child(), [], None, None,
                     every if recursive else seen, True)
                seen = seen | {n}
            walk(node.child(), [], None, None, every, subq)
        elif kind == "Filter":
            own = [_Expr(c) for c in _conjuncts(node.condition())
                   if not (subq and c.containsPattern(pe))]
            walk(node.child(), conj + own, None, None, ctes, subq)
        elif kind == "SubqueryAlias":
            walk(node.child(), conj, alias or node.alias(), sample, ctes,
                 subq)
        elif kind == "Sample":
            walk(node.child(), [], alias, node, ctes, subq)
        elif kind == "Join":
            jt = node.joinType().toString()
            m = re.match(r"UsingJoin\((\w+),", jt)
            left, right = _JOIN_PASS.get(m.group(1) if m else jt,
                                         (False, False))
            walk(node.left(), conj if left else [], None, None, ctes, subq)
            walk(node.right(), conj if right else [], None, None, ctes,
                 subq)
        else:
            for child in _seq(node.children()):
                walk(child, [], None, None, ctes, subq)

    walk(plan, [], None, None, frozenset(), True)
    return refs


def _dml_target(plan, entries):
    """(catalog name, alias) of a DELETE/UPDATE/MERGE target, or
    (None, None) when it is not a catalog table."""
    target = (plan.targetTable() if plan.nodeName() == "MergeIntoTable"
              else plan.table())
    alias = None
    if target.nodeName() == "SubqueryAlias":
        alias, target = target.alias(), target.child()
    if target.nodeName() != "UnresolvedRelation":
        return None, None
    return (_catalog_name(_parts(target.multipartIdentifier()), entries),
            alias)


class QbeastSqlCatalog:
    """Flat, warehouse-scoped qbeast table catalog + SQL dispatcher.

    ``warehouse_dir`` defaults to ``spark.sql.warehouse.dir``; managed
    tables live at ``<warehouse>/<name>``, external tables where their
    LOCATION points. See module docstring for the statement grammar.
    """

    def __init__(self, spark, warehouse_dir: Optional[str] = None):
        self.spark = spark
        if warehouse_dir is None:
            warehouse_dir = spark.conf.get(
                "spark.sql.warehouse.dir", "spark-warehouse")
            warehouse_dir = re.sub(r"^file:/*", "/", warehouse_dir)
        self.warehouse = os.path.abspath(warehouse_dir)

    # -- metastore ---------------------------------------------------------

    @property
    def _catalog_path(self) -> str:
        return os.path.join(self.warehouse, CATALOG_FILE)

    def tables(self) -> Dict[str, Dict[str, Any]]:
        try:
            with open(self._catalog_path) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {}

    def _mutate(self, fn) -> Any:
        """Run ``fn(entries) -> result`` under the catalog flock;
        persist ``entries`` with tmp + atomic rename."""
        os.makedirs(self.warehouse, exist_ok=True)
        lock_path = os.path.join(self.warehouse, CATALOG_LOCK)
        with open(lock_path, "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            entries = self.tables()
            result = fn(entries)
            fd, tmp = tempfile.mkstemp(dir=self.warehouse,
                                       prefix=".catalog-", suffix=".json")
            try:
                with os.fdopen(fd, "w") as fh:
                    json.dump(entries, fh, indent=1, sort_keys=True)
                os.replace(tmp, self._catalog_path)
            except BaseException:
                if os.path.exists(tmp):
                    os.unlink(tmp)
                raise
        return result

    def _entry(self, raw_name: str) -> Tuple[str, Dict[str, Any]]:
        name = _normalize_name(raw_name)
        entry = self.tables().get(name)
        if entry is None:
            raise ValueError(f"qbeast table {name!r} not found in the "
                             f"catalog at {self.warehouse}")
        return name, entry

    def _qt(self, entry):
        from .reader import QbeastTable

        return QbeastTable(self.spark, entry["location"])

    # -- statement dispatch --------------------------------------------------

    def sql(self, statement: str):
        """Execute one SQL statement. Returns a DataFrame for queries,
        DESCRIBE/SHOW, and DML status; ``None`` for pure DDL."""
        stmt = _strip_comments(statement).strip().rstrip(";").strip()
        if not stmt:
            raise ValueError("empty statement")
        head = stmt.split(None, 1)[0].upper()
        if head == "CREATE":
            return self._sql_create(stmt, statement)
        if head == "DROP":
            return self._sql_drop(stmt, statement)
        if head == "ALTER":
            return self._sql_alter(stmt, statement)
        if head == "INSERT":
            return self._sql_insert(stmt, statement)
        if head == "OPTIMIZE":
            return self._sql_optimize(stmt)
        if head == "VACUUM":
            return self._sql_vacuum(stmt)
        if head == "RESTORE":
            return self._sql_restore(stmt)
        if head == "TRUNCATE":
            return self._sql_truncate(stmt)
        if head in ("DESCRIBE", "DESC"):
            return self._sql_describe(stmt, statement)
        if head == "SHOW":
            return self._sql_show(stmt, statement)
        # everything else is parsed once: DML on a catalog table runs
        # natively, the rest is delegated with that same plan
        entries = self.tables()
        if not entries:
            return self.spark.sql(stmt)
        plan = _parse(self.spark, stmt)
        run = {"DeleteFromTable": self._sql_delete,
               "UpdateTable": self._sql_update,
               "MergeIntoTable": self._sql_merge}.get(plan.nodeName())
        if run is not None:
            name, alias = _dml_target(plan, entries)
            if name is not None:
                return run(stmt, plan, name, alias, entries)
        return self._delegate(stmt, plan, entries)

    # -- CREATE TABLE --------------------------------------------------------

    _CREATE_RX = re.compile(
        rf"^CREATE\s+(?P<replace>OR\s+REPLACE\s+)?(?:EXTERNAL\s+)?TABLE\s+"
        rf"(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>{_NAME})\s*",
        re.IGNORECASE)

    def _sql_create(self, stmt: str, original: str):
        m = self._CREATE_RX.match(stmt)
        if not m:
            return self._delegate(stmt)
        rest = stmt[m.end():]

        schema_ddl = None
        if rest.startswith("("):
            end = _balanced_paren(rest, 0)
            schema_ddl = rest[1:end - 1]
            rest = rest[end:].lstrip()

        try:
            clauses, as_query = self._parse_table_clauses(rest)
        except ValueError:
            # a clause this parser does not know (STORED AS, ROW
            # FORMAT, ...): only statements claiming USING qbeast are
            # ours to reject — everything else belongs to spark.sql.
            # Probe the MASKED text so a literal like
            # LOCATION '/data/using qbeast/x' cannot claim ownership.
            try:
                owns = re.search(r"(?i)\bUSING\s+qbeast\b",
                                 _mask_quotes(rest))
            except ValueError:
                owns = None  # unbalanced quotes: let Spark complain
            if owns:
                raise
            return self._delegate(stmt)
        provider = (clauses.get("using") or "").lower()
        if provider != "qbeast":
            # not ours — let Spark handle it (views of referenced qbeast
            # tables are registered so CTAS-from-qbeast still works)
            return self._delegate(stmt)
        if "partitioned" in clauses or "clustered" in clauses:
            # QbeastCatalogUtils.scala:269-274 parity
            raise ValueError(
                "Qbeast Format does not support partitioning/bucketing. "
                "You may still want to use your partition columns as "
                "columnsToIndex to get all the benefits of data skipping.")

        name = _normalize_name(m.group("name"))
        replace = bool(m.group("replace"))
        if_not_exists = bool(m.group("ine"))
        options = clauses.get("options", {})
        properties = clauses.get("tblproperties", {})
        location = clauses.get("location")
        managed = location is None
        if managed:
            location = os.path.join(self.warehouse, name)
        location = _local_location(location)

        existing = self.tables().get(name)
        if existing is not None and not replace:
            if if_not_exists:
                return None
            raise ValueError(f"table {name!r} already exists "
                             "(use IF NOT EXISTS or OR REPLACE)")

        from pyspark.sql import types as T

        from .log import CommitLog
        from .reader import QbeastTable

        schema = (T.StructType.fromDDL(schema_ddl)
                  if schema_ddl is not None else None)
        log_exists = CommitLog(location).exists()

        df = None
        if as_query is not None:
            df = self._delegate(as_query)
            if schema is not None:
                raise ValueError(
                    "CREATE TABLE ... AS SELECT cannot also declare a "
                    "column list")
        elif log_exists and not replace:
            # adopting an existing location: verifySchema parity
            existing_schema = QbeastTable(self.spark, location).schema()
            if schema is not None and not _schemas_equal(schema,
                                                         existing_schema):
                raise ValueError(
                    "Trying to create a table with a different schema "
                    "than the existing qbeast table at "
                    f"{location}. Do you want to ALTER TABLE first?")
        elif schema is not None:
            from .frames import empty_frame

            df = empty_frame(self.spark, schema)
        else:
            kind = "managed" if managed else "External"
            raise ValueError(
                f"Trying to create a {kind} Table without any schema. "
                "Please specify the schema in the command, add AS "
                "SELECT, or use a path of a populated table.")

        # Reserve the name UNDER the metastore flock before any write:
        # the unlocked `existing` probe above gives a fast error, but
        # two racing CREATEs would both pass it — the re-check inside
        # the critical section is the authoritative one (two managed
        # creators derive the SAME location, so letting both proceed
        # would interleave their appends into one table).
        new_entry = {
            "location": location,
            "managed": managed,
            "options": options,
            "comment": clauses.get("comment"),
        }

        def reserve(entries):
            cur = entries.get(name)
            if cur is not None and not replace:
                if if_not_exists:
                    return ("exists", cur)
                raise ValueError(f"table {name!r} already exists "
                                 "(use IF NOT EXISTS or OR REPLACE)")
            # install now when the name is free (the reservation is
            # what stops two racing creators interleaving appends into
            # one managed location) or when the location is unchanged
            # (same-location REPLACE is arbitrated by the commit log's
            # atomic overwrite). A location-CHANGING replace keeps the
            # old entry visible until the new table is fully written —
            # readers never resolve the name to a log-less path.
            if cur is None or cur["location"] == location:
                entries[name] = new_entry
                return ("installed", cur)
            return ("deferred", cur)

        status, old = self._mutate(reserve)
        if status == "exists":
            return None
        try:
            if df is not None:
                self._write_table(location, df, options,
                                  mode="overwrite" if replace else "append")
            if properties:
                QbeastTable(self.spark, location).set_properties(properties)
        except BaseException:
            if status == "installed":
                def rollback(entries):
                    # restore only if nobody re-created the name since
                    if entries.get(name) == new_entry:
                        if old is not None:
                            entries[name] = old
                        else:
                            entries.pop(name, None)

                self._mutate(rollback)
            raise
        if status == "deferred":
            def swap(entries):
                # install only if the entry is still the one we read at
                # reserve time — a concurrent DROP/REPLACE during the
                # write window wins, mirroring the failure-path guard
                if entries.get(name) == old:
                    entries[name] = new_entry
                    return True
                return False

            if not self._mutate(swap):
                raise ValueError(
                    f"table {name!r} was dropped or replaced while this "
                    f"REPLACE was writing; the new data at {location} "
                    "was NOT installed (remove it manually if unwanted)")
        # old managed data dir is removed only after the new table is
        # fully written, so a failed REPLACE never loses the old table
        if replace and old is not None and old.get("managed") \
                and old["location"] != location \
                and os.path.exists(old["location"]):
            shutil.rmtree(old["location"])
        return None

    def _parse_table_clauses(self, rest: str):
        """Parse the clause tail of CREATE TABLE: USING / OPTIONS /
        LOCATION / TBLPROPERTIES / COMMENT / PARTITIONED BY / CLUSTERED
        BY, in any order, then an optional top-level AS <query>."""
        clauses: Dict[str, Any] = {}
        s = rest.strip()
        while s:
            m = re.match(r"(?i)^AS\b\s*", s)
            if m:
                return clauses, s[m.end():].strip()
            m = re.match(rf"(?i)^USING\s+({_IDENT}(?:\.{_IDENT})*)\s*", s)
            if m:
                clauses["using"] = _unquote_ident(m.group(1))
                s = s[m.end():]
                continue
            m = re.match(r"(?i)^(OPTIONS|TBLPROPERTIES)\s*\(", s)
            if m:
                end = _balanced_paren(s, m.end() - 1)
                clauses[m.group(1).lower()] = _parse_kv_list(
                    s[m.end():end - 1])
                s = s[end:].lstrip()
                continue
            m = re.match(r"(?i)^LOCATION\s+('(?:[^']|'')*'|\"[^\"]*\")\s*",
                         s)
            if m:
                clauses["location"] = _unquote_lit(m.group(1))
                s = s[m.end():]
                continue
            m = re.match(r"(?i)^COMMENT\s+('(?:[^']|'')*'|\"[^\"]*\")\s*", s)
            if m:
                clauses["comment"] = _unquote_lit(m.group(1))
                s = s[m.end():]
                continue
            m = re.match(r"(?i)^(PARTITIONED|CLUSTERED)\s+BY\s*\(", s)
            if m:
                end = _balanced_paren(s, len(m.group(0)) - 1)
                clauses[m.group(1).lower()] = s[len(m.group(0)):end - 1]
                s = s[end:].lstrip()
                continue
            raise ValueError(f"cannot parse CREATE TABLE clause at: "
                             f"{s[:60]!r}")
        return clauses, None

    def _write_table(self, location: str, df, options: Dict[str, str],
                     mode: str):
        """Route a DataFrame through the indexed write with the table's
        CREATE-time options (columnsToIndex / cubeSize / columnStats —
        docs/Quickstart.md's option table)."""
        from .writer import write_qbeast
        from ..core.revision import DEFAULT_CUBE_SIZE

        # columns_to_index=None lets write_qbeast resolve: an existing
        # table's indexed columns win on append, else auto-selection
        cols = options.get("columnsToIndex") or options.get(
            "columnstoindex")
        cols = [c.strip() for c in cols.split(",")] if cols else None
        cube_size = int(options.get("cubeSize")
                        or options.get("cubesize")
                        or DEFAULT_CUBE_SIZE)
        stats_raw = options.get("columnStats") or options.get(
            "columnstats")
        frac_raw = options.get("analyzeFraction") or options.get(
            "analyzefraction")
        return write_qbeast(
            df, location, columns_to_index=cols, cube_size=cube_size,
            mode=mode, column_stats=_parse_column_stats(stats_raw),
            analyze_fraction=float(frac_raw) if frac_raw else None)

    # -- DROP / ALTER ---------------------------------------------------------

    _DROP_RX = re.compile(
        rf"^DROP\s+TABLE\s+(?P<ie>IF\s+EXISTS\s+)?(?P<name>{_NAME})\s*$",
        re.IGNORECASE)

    def _sql_drop(self, stmt: str, original: str):
        m = self._DROP_RX.match(stmt)
        if not m:
            return self._delegate(stmt)
        try:
            name = _normalize_name(m.group("name"))
        except ValueError:
            return self._delegate(stmt)
        if name not in self.tables():
            # maybe a Spark-side table — delegate either way (Spark's
            # own DROP TABLE IF EXISTS no-ops on a missing name), but
            # keep the "None for DDL" return contract
            self._delegate(stmt)
            return None

        def drop(entries):
            entry = entries.pop(name, None)
            if entry and entry.get("managed") \
                    and os.path.exists(entry["location"]):
                shutil.rmtree(entry["location"])

        self._mutate(drop)
        self.spark.catalog.dropTempView(name)
        return None

    _ALTER_RX = re.compile(
        rf"^ALTER\s+TABLE\s+(?P<name>{_NAME})\s+(?P<rest>.*)$",
        re.IGNORECASE | re.DOTALL)

    def _sql_alter(self, stmt: str, original: str):
        m = self._ALTER_RX.match(stmt)
        if not m:
            return self._delegate(stmt)
        try:
            name = _normalize_name(m.group("name"))
        except ValueError:
            return self._delegate(stmt)
        if name not in self.tables():
            return self._delegate(stmt)
        entry = self.tables()[name]
        rest = m.group("rest").strip()

        def _no_trailing(end):
            if rest[end:].strip():
                raise ValueError(
                    f"unexpected text after the property list: "
                    f"{rest[end:].strip()[:40]!r}")

        ms = re.match(r"(?i)^SET\s+TBLPROPERTIES\s*\(", rest)
        if ms:
            end = _balanced_paren(rest, ms.end() - 1)
            _no_trailing(end)
            props = _parse_kv_list(rest[ms.end():end - 1])
            self._qt(entry).set_properties(props)
            return None
        mu = re.match(r"(?i)^UNSET\s+TBLPROPERTIES\s*"
                      r"(IF\s+EXISTS\s*)?\(", rest)
        if mu:
            end = _balanced_paren(rest, mu.end() - 1)
            _no_trailing(end)
            keys = [_unquote_lit(k)
                    for k in _split_top_level_commas(rest[mu.end():end - 1])]
            qt = self._qt(entry)
            # DSv2 RemoveProperty is always IF EXISTS
            # (QbeastCatalog.scala:292-298) — a null value deletes the
            # key in the log's property merge.
            qt.log.commit(
                properties={k: None for k in keys},
                schema_json=qt.snapshot(refresh=True).schema_json,
                data_change=False, operation="UNSET TBLPROPERTIES")
            return None
        ma = re.match(r"(?i)^ADD\s+COLUMNS?\s*\(", rest)
        if ma:
            end = _balanced_paren(rest, ma.end() - 1)
            if rest[end:].strip():
                raise ValueError(
                    f"unexpected text after ADD COLUMNS list: "
                    f"{rest[end:].strip()[:40]!r}")
            self._qt(entry).add_columns(rest[ma.end():end - 1])
            return None
        mr = re.match(rf"(?i)^RENAME\s+TO\s+(?P<to>{_NAME})\s*$", rest)
        if mr:
            new = _normalize_name(mr.group("to"))

            def rename(entries):
                if new in entries:
                    raise ValueError(f"table {new!r} already exists")
                e = entries.pop(name)
                if e.get("managed"):
                    new_loc = os.path.join(self.warehouse, new)
                    os.rename(e["location"], new_loc)
                    e["location"] = new_loc
                entries[new] = e

            self._mutate(rename)
            self.spark.catalog.dropTempView(name)
            return None
        raise ValueError(f"unsupported ALTER TABLE operation on a "
                         f"qbeast table: {rest[:60]!r}")

    # -- INSERT ---------------------------------------------------------------

    _INSERT_RX = re.compile(
        rf"^INSERT\s+(?P<kind>INTO|OVERWRITE)\s+(?:TABLE\s+)?"
        rf"(?P<name>{_NAME})\s*(?P<rest>.*)$",
        re.IGNORECASE | re.DOTALL)

    def _sql_insert(self, stmt: str, original: str):
        m = self._INSERT_RX.match(stmt)
        if not m:
            return self._delegate(stmt)
        try:
            name = _normalize_name(m.group("name"))
        except ValueError:
            return self._delegate(stmt)
        entries = self.tables()
        if name not in entries:
            return self._delegate(stmt)
        entry = entries[name]
        rest = m.group("rest").strip()

        by_name = False
        bn = re.match(r"(?i)^BY\s+NAME\b\s*", rest)
        if bn:
            by_name = True
            rest = rest[bn.end():].strip()
        col_list = None
        if rest.startswith("(") and not re.match(
                r"(?i)^\(\s*(SELECT|WITH|VALUES|FROM|TABLE)\b", rest):
            end = _balanced_paren(rest, 0)
            col_list = [_unquote_ident(c)
                        for c in _split_top_level_commas(rest[1:end - 1])]
            rest = rest[end:].strip()
        if by_name and col_list is not None:
            raise ValueError(
                "INSERT ... BY NAME cannot also take a column list")
        if re.match(r"(?i)^VALUES\b", rest):
            df = self._delegate("SELECT * FROM " + rest)
        elif rest:
            df = self._delegate(rest)
        else:
            raise ValueError("INSERT needs VALUES or a query")
        if by_name:
            # Spark 3.5+ INSERT BY NAME: the query's own column names
            # drive the mapping (missing table columns become NULL)
            col_list = list(df.columns)

        from .reader import QbeastTable

        table_schema = QbeastTable(self.spark, entry["location"]).schema()
        df = _align_insert(df, table_schema, col_list)
        mode = ("append" if m.group("kind").upper() == "INTO"
                else "overwrite")
        version = self._write_table(entry["location"], df,
                                    entry.get("options", {}), mode)
        # affected_rows comes from the stats job the write ran anyway —
        # counting df here would re-run the source query a third time
        # (thread-local readout: concurrent inserts can't cross-report)
        from .writer import last_write_rows

        return self._status_df(operation=f"INSERT {m.group('kind').upper()}",
                               table=name, version=version,
                               rows=last_write_rows())

    # -- DELETE / UPDATE / MERGE ----------------------------------------------
    #
    # Reached with the statement's parsed plan once its target is known
    # to be a catalog table. Conditions and expressions are handed on
    # as their source text with the target's qualifier cut (and, in
    # MERGE, the source's respelled) at the attribute spans.

    def _sql_delete(self, stmt: str, plan, name: str, alias, entries):
        from .dml import delete_rows

        cond = plan.condition()
        where = None   # no WHERE parses as the literal true
        if not (cond.nodeName() == "Literal" and cond.toString() == "true"):
            where = _Expr(cond).text(stmt, _own_qualifiers(name, alias))
        out = delete_rows(self.spark, entries[name]["location"],
                          filters=where)
        return self._status_df(operation="DELETE", table=name,
                               version=out.get("version"),
                               rows=out.get("rows_deleted"))

    def _sql_update(self, stmt: str, plan, name: str, alias, entries):
        from .dml import update_rows

        quals = _own_qualifiers(name, alias)
        assignments = {_column(a.key()): _Expr(a.value()).text(stmt, quals)
                       for a in _seq(plan.assignments())}
        cond = plan.condition()
        where = (_Expr(cond.get()).text(stmt, quals) if cond.isDefined()
                 else None)
        out = update_rows(self.spark, entries[name]["location"],
                          assignments, filters=where)
        return self._status_df(operation="UPDATE", table=name,
                               version=out.get("version"),
                               rows=out.get("rows_updated"))

    def _sql_merge(self, stmt: str, plan, name: str, alias, entries):
        """MERGE through dml.merge_rows: the ON condition must be a
        conjunction of same-named equi-keys; source-qualified columns
        become the ``__src_<col>`` names merge_rows' update expressions
        read. Clause conditions and BY SOURCE clauses have no
        merge_rows counterpart and raise before anything runs."""
        from .dml import merge_rows

        if plan.notMatchedBySourceActions().size():
            raise ValueError(
                "unsupported MERGE clause WHEN NOT MATCHED BY SOURCE; the "
                "SQL surface runs only clauses merge_rows() implements — "
                "use merge_rows()/delete_rows() directly for this shape")
        actions = (_seq(plan.matchedActions())
                   + _seq(plan.notMatchedActions()))
        if any(a.condition().isDefined() for a in actions):
            raise ValueError(
                "WHEN ... AND <condition> clauses are not supported by "
                "the SQL surface; filter the USING source instead or "
                "call merge_rows() directly")
        keys = []
        for term in _conjuncts(plan.mergeCondition()):
            sides = ([term.left(), term.right()]
                     if term.nodeName() == "EqualTo" else [])
            text = _Expr(term).text(stmt, {})
            if not sides or any(s.nodeName() != "UnresolvedAttribute"
                                for s in sides):
                raise ValueError(
                    f"MERGE ON term {text!r} is not an equi-join on a "
                    "shared column name; use qbeast_spark_spark."
                    "merge_rows() for general conditions")
            c1, c2 = (_column(s).lower() for s in sides)
            if c1 != c2:
                raise ValueError(
                    f"MERGE ON {text!r}: the SQL surface needs the same "
                    "column name on both sides (rename in the USING "
                    "subquery, or call merge_rows() directly)")
            keys.append(c1)

        src = plan.sourceTable()
        salias = None
        if src.nodeName() == "SubqueryAlias":
            salias, src = src.alias(), src.child()
        a, b = _span(src)
        if src.nodeName() == "UnresolvedRelation":
            source_df = self._delegate(f"SELECT * FROM {stmt[a:b]}")
            salias = salias or _parts(src.multipartIdentifier())[-1]
        else:
            source_df = self._delegate(stmt[a:b])
        squal = ((salias or "").lower(),)
        to_src = {squal: "__src_", **_own_qualifiers(name, alias)}
        from_src = {squal: ""}

        upd, dele, ins = None, False, None
        for act in actions:
            kind = act.nodeName()
            if kind == "DeleteAction":
                dele = True
            elif kind == "UpdateStarAction":
                upd = "all"
            elif kind == "InsertStarAction":
                ins = "all"
            elif kind == "UpdateAction":
                upd = {_column(x.key()): _Expr(x.value()).text(stmt, to_src)
                       for x in _seq(act.assignments())}
            elif kind == "InsertAction":
                ins = {_column(x.key()).lower():
                       _Expr(x.value()).text(stmt, from_src)
                       for x in _seq(act.assignments())}
            else:
                raise ValueError(f"unsupported MERGE action {kind}")
        out = merge_rows(self.spark, entries[name]["location"], source_df,
                         on=keys, when_matched_update=upd,
                         when_matched_delete=dele,
                         when_not_matched_insert=ins)
        return self._status_df(
            operation="MERGE", table=name, version=out.get("version"),
            rows=(out.get("rows_updated") or 0)
            + (out.get("rows_deleted") or 0)
            + (out.get("rows_inserted") or 0))
    # -- maintenance verbs -------------------------------------------------------

    def _sql_optimize(self, stmt: str):
        m = re.match(rf"(?i)^OPTIMIZE\s+(?P<name>{_NAME})\s*$", stmt)
        if not m:
            raise ValueError("OPTIMIZE takes a single qbeast table name")
        name, entry = self._entry(m.group("name"))
        version = self._qt(entry).optimize()
        return self._status_df(operation="OPTIMIZE", table=name,
                               version=version, rows=None)

    def _sql_vacuum(self, stmt: str):
        m = re.match(rf"(?i)^VACUUM\s+(?P<name>{_NAME})"
                     r"(?:\s+RETAIN\s+(?P<hours>[\d.]+)\s+HOURS)?"
                     r"(?:\s+(?P<dry>DRY\s+RUN))?\s*$", stmt)
        if not m:
            raise ValueError(
                "expected VACUUM <table> [RETAIN n HOURS] [DRY RUN]")
        name, entry = self._entry(m.group("name"))
        deleted = self._qt(entry).vacuum(
            dry_run=bool(m.group("dry")),
            retention_hours=float(m.group("hours") or 168.0))
        return self._status_df(operation="VACUUM", table=name,
                               version=None, rows=len(deleted))

    def _sql_restore(self, stmt: str):
        m = re.match(rf"(?i)^RESTORE\s+(?:TABLE\s+)?(?P<name>{_NAME})\s+"
                     r"TO\s+VERSION\s+AS\s+OF\s+(?P<v>\d+)\s*$", stmt)
        if not m:
            raise ValueError(
                "expected RESTORE [TABLE] <table> TO VERSION AS OF <n>")
        name, entry = self._entry(m.group("name"))
        version = self._qt(entry).restore(int(m.group("v")))
        return self._status_df(operation="RESTORE", table=name,
                               version=version, rows=None)

    def _sql_truncate(self, stmt: str):
        m = re.match(rf"(?i)^TRUNCATE\s+TABLE\s+(?P<name>{_NAME})\s*$",
                     stmt)
        if not m:
            # 3-part names, PARTITION clauses, ... — not ours (and keep
            # the None-for-DDL return contract)
            self._delegate(stmt)
            return None
        try:
            name = _normalize_name(m.group("name"))
        except ValueError:
            name = None
        entries = self.tables()
        if name is None or name not in entries:
            self._delegate(stmt)
            return None
        from .dml import delete_rows

        out = delete_rows(self.spark, entries[name]["location"],
                          filters=None)
        return self._status_df(operation="TRUNCATE", table=name,
                               version=out.get("version"),
                               rows=out.get("rows_deleted"))

    # -- DESCRIBE / SHOW -----------------------------------------------------------

    def _sql_describe(self, stmt: str, original: str):
        m = re.match(rf"(?i)^DESC(?:RIBE)?\s+(?P<kind>EXTENDED\s+|DETAIL\s+"
                     rf"|HISTORY\s+)?(?:TABLE\s+)?(?P<name>{_NAME})\s*$",
                     stmt)
        if not m:
            return self._delegate(stmt)
        try:
            name = _normalize_name(m.group("name"))
        except ValueError:
            return self._delegate(stmt)
        entries = self.tables()
        if name not in entries:
            return self._delegate(stmt)
        entry = entries[name]
        qt = self._qt(entry)
        kind = (m.group("kind") or "").strip().upper()
        if kind == "HISTORY":
            hist = [(int(h.get("version", -1)),
                     str(h.get("operation", "")),
                     str(h.get("timestamp", "")))
                    for h in qt.history()]
            return self.spark.createDataFrame(
                hist, "version BIGINT, operation STRING, timestamp STRING")
        if kind == "DETAIL":
            detail = qt.detail()
            return self.spark.createDataFrame(
                [(k, json.dumps(v, default=str))
                 for k, v in sorted(detail.items())],
                "key STRING, value STRING")
        rows = [(f.name, f.dataType.simpleString(), "")
                for f in qt.schema().fields]
        if kind == "EXTENDED":
            rows += [("", "", ""),
                     ("# Detailed Table Information", "", ""),
                     ("Name", name, ""),
                     ("Location", entry["location"], ""),
                     ("Provider", "qbeast", ""),
                     ("Type", "MANAGED" if entry.get("managed")
                      else "EXTERNAL", "")]
        return self.spark.createDataFrame(
            rows, "col_name STRING, data_type STRING, comment STRING")

    def _sql_show(self, stmt: str, original: str):
        if re.match(r"(?i)^SHOW\s+TABLES\s*$", stmt):
            rows = [(n, e["location"], bool(e.get("managed")))
                    for n, e in sorted(self.tables().items())]
            return self.spark.createDataFrame(
                rows, "tableName STRING, location STRING, managed BOOLEAN") \
                if rows else self.spark.createDataFrame(
                    [], "tableName STRING, location STRING, managed BOOLEAN")
        mc = re.match(rf"(?i)^SHOW\s+CREATE\s+TABLE\s+(?P<name>{_NAME})\s*$",
                      stmt)
        if mc:
            try:
                name = _normalize_name(mc.group("name"))
            except ValueError:
                return self._delegate(stmt)
            entries = self.tables()
            if name not in entries:
                return self._delegate(stmt)
            entry = entries[name]
            qt = self._qt(entry)
            def q1(s):  # SQL escaping — EVERY quoted value (options,
                # location, comment, tblproperties): an embedded quote
                # yields unrunnable DDL, and an unescaped backslash
                # before the closing quote reads as an escape in both
                # this dialect's scanner and Spark's parser. Decoded
                # back by _unquote_lit (doubled quote / backslash).
                return str(s).replace("\\", "\\\\").replace("'", "''")

            cols = ", ".join(f"{f.name} {f.dataType.simpleString().upper()}"
                             for f in qt.schema().fields)
            opts = entry.get("options") or {}
            parts = [f"CREATE TABLE {name} ({cols}) USING qbeast"]
            if opts:
                kv = ", ".join(f"'{q1(k)}'='{q1(v)}'" for k, v in sorted(
                    opts.items()))
                parts.append(f"OPTIONS ({kv})")
            if not entry.get("managed"):
                parts.append(f"LOCATION '{q1(entry['location'])}'")
            if entry.get("comment"):
                parts.append(f"COMMENT '{q1(entry['comment'])}'")
            # table properties live in the commit log — without them the
            # "runnable" DDL would recreate the table minus its CHECK
            # constraints (qbeast.constraint.* properties) and CDF flag.
            # qbeast.lastRevisionID is engine bookkeeping (re-derived by
            # every write) — seeding it on a fresh table would lie.
            props = {k: v for k, v in qt.log.table_properties().items()
                     if k != "qbeast.lastRevisionID"}
            if props:
                kv = ", ".join(f"'{q1(k)}'='{q1(v)}'"
                               for k, v in sorted(props.items()))
                parts.append(f"TBLPROPERTIES ({kv})")
            return self.spark.createDataFrame(
                [("\n".join(parts),)], "createtab_stmt STRING")
        m = re.match(rf"(?i)^SHOW\s+TBLPROPERTIES\s+(?P<name>{_NAME})\s*$",
                     stmt)
        if m:
            try:
                name = _normalize_name(m.group("name"))
            except ValueError:
                return self._delegate(stmt)
            if name not in self.tables():
                return self._delegate(stmt)
            _, entry = self._entry(name)
            props = self._qt(entry).log.table_properties()
            return self.spark.createDataFrame(
                sorted(props.items()), "key STRING, value STRING") \
                if props else self.spark.createDataFrame(
                    [], "key STRING, value STRING")
        return self._delegate(stmt)

    # -- query delegation ------------------------------------------------------------

    def _delegate(self, stmt: str, plan=None, entries=None):
        """Bind every catalog-table reference to a temp view (time
        travel / TABLESAMPLE / WHERE-pruned / full), then run the
        rewritten statement through ``spark.sql``. Synthesized views are
        dropped right after — ``spark.sql`` resolves them eagerly during
        analysis, so the returned DataFrame stays valid while nothing
        filtered/sampled lingers in the session's view namespace.
        (Bare-name full-table views DO stay registered — the 'mounted
        table' convenience.) A statement that DEFINES a view keeps its
        synthesized views: Spark stores the unresolved plan and
        re-resolves it on every later reference."""
        if entries is None:
            entries = self.tables()
        if not entries:
            return self.spark.sql(stmt)
        if plan is None:
            plan = _parse(self.spark, stmt)
        created: List[str] = []
        try:
            return self.spark.sql(
                self._register_referenced(stmt, plan, entries, created))
        finally:
            # created is filled as views register, so a failure midway
            # through a multi-reference statement still cleans up
            if plan.nodeName() not in _DEFINES_VIEW:
                for v in created:
                    self.spark.catalog.dropTempView(v)

    def _register_referenced(self, stmt: str, plan, entries,
                             created: List[str]) -> str:
        """Register a view for each reference ``_table_refs`` finds and
        return ``stmt`` with the references replaced. A synthesized view
        is never registered under the bare table name (a lingering
        filtered view would leak the slice into later plain reads); the
        pruned view carries NO residual predicate (the statement's WHERE
        applies it — doing it here too would double-evaluate
        nondeterministic filters)."""
        from .reader import QbeastTable

        tables: Dict[str, Any] = {}
        mount = set()
        edits = []
        for ref in _table_refs(self.spark, plan, stmt, entries):
            qt = tables.get(ref.name)
            if qt is None:
                qt = tables[ref.name] = QbeastTable(
                    self.spark, entries[ref.name]["location"])
            df, tag = None, "w"
            if ref.travel is not None:
                df, tag = qt.to_df(**ref.travel), "tt"
            elif ref.percent is not None:
                df, tag = qt.sample(ref.percent / 100.0), "s"
            else:
                hint = ref.pruning_hint(stmt)
                if hint is not None:
                    try:
                        df = qt.prune_scan(hint)
                    except Exception:
                        df = None   # un-liftable: full view
                if df is None and ref.qualified:
                    # the bare mount would not bind `default.name`
                    df, tag = qt.to_df(), "v"
            if df is None:
                mount.add(ref.name)
                continue
            view = f"__qb_{ref.name}_{tag}{next(_VIEW_SEQ)}"
            df.createOrReplaceTempView(view)
            created.append(view)
            # without a user alias, alias the view back to the table
            # name so qualified column refs keep resolving; padded, as
            # the reference may abut a keyword (FROM`t`)
            edits.append((ref.start, ref.stop, f" {view} " if ref.alias
                          else f" {view} AS {ref.name} "))
        for name in mount:
            tables[name].to_df().createOrReplaceTempView(name)
        for a, b, text in sorted(edits, reverse=True):
            stmt = stmt[:a] + text + stmt[b:]
        return stmt
    # -- helpers ---------------------------------------------------------------------

    def _status_df(self, operation: str, table: str, version, rows):
        import pyarrow as pa

        from .frames import arrow_frame

        return arrow_frame(self.spark, pa.table({
            "operation": [operation], "tableName": [table],
            "version": pa.array(
                [None if version is None else int(version)], pa.int64()),
            "affected_rows": pa.array(
                [None if rows is None else int(rows)], pa.int64())}),
            "operation STRING, tableName STRING, version BIGINT, "
            "affected_rows BIGINT")


def _schemas_equal(a, b) -> bool:
    if a is None or b is None:
        return a is b
    na = [(f.name.lower(), f.dataType.simpleString()) for f in a.fields]
    nb = [(f.name.lower(), f.dataType.simpleString()) for f in b.fields]
    return na == nb


def _align_insert(df, table_schema, col_list: Optional[List[str]]):
    """Spark INSERT semantics: positional without a column list (arity
    must match), by-listed-name with one (missing columns become NULL);
    values cast to the table's declared types."""
    from pyspark.sql import functions as F

    if table_schema is None:
        return df
    fields = list(table_schema.fields)
    if col_list is None:
        if len(df.columns) != len(fields):
            raise ValueError(
                f"INSERT has {len(df.columns)} columns but the table "
                f"expects {len(fields)}")
        pairs = list(zip(df.columns, fields))
        return df.select(*[F.col(c).cast(f.dataType).alias(f.name)
                           for c, f in pairs])
    lower = {c.lower(): c for c in col_list}
    if len(lower) != len(col_list):
        raise ValueError("duplicate column in INSERT column list")
    if len(df.columns) != len(col_list):
        raise ValueError(
            f"INSERT column list has {len(col_list)} names but the "
            f"query produced {len(df.columns)} columns")
    unknown = set(lower) - {f.name.lower() for f in fields}
    if unknown:
        raise ValueError(f"unknown INSERT column(s) {sorted(unknown)}")
    src_for = {lc: df.columns[i]
               for i, lc in enumerate(c.lower() for c in col_list)}
    cols = []
    for f in fields:
        src = src_for.get(f.name.lower())
        if src is None:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.col(src).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def _parse_column_stats(raw: Optional[str]):
    """Accept the reference's flat columnStats JSON
    (``{"a_min":0,"a_max":10}``, docs/Quickstart.md option table) as
    well as the writer's nested ``{"a": {"min":0,"max":10}}`` form."""
    if not raw:
        return None
    stats = json.loads(raw)
    if not isinstance(stats, dict):
        raise ValueError("columnStats must be a JSON object")
    if all(isinstance(v, dict) for v in stats.values()):
        return stats
    nested: Dict[str, Dict[str, Any]] = {}
    for k, v in stats.items():
        m = re.match(r"^(.*)_(min|max)$", k)
        if not m:
            raise ValueError(f"columnStats key {k!r} is neither "
                             "nested nor <col>_min/<col>_max")
        nested.setdefault(m.group(1), {})[m.group(2)] = v
    return nested




def qsql(spark, statement: str, warehouse_dir: Optional[str] = None):
    """Module-level convenience: ``QbeastSqlCatalog(spark,
    warehouse_dir).sql(statement)``. The catalog object is stateless
    besides its paths, so constructing one per call is free."""
    return QbeastSqlCatalog(spark, warehouse_dir).sql(statement)

"""SQL statement executor for the lake.

The reference's entire user surface is SQL strings driven through
``conn.execute(...)`` (``utils/ducklake_utils.py:53``; every demo) — DDL,
DML, transactions, and reads. This module gives ``LakeCatalog.sql()`` the
same statement coverage so a reference user can port scripts verbatim.

The verb table ``_VERBS`` (end of module) IS the dispatch: an ordered list
of (label, pattern, handler, flags) whose first match handles a statement.
Its groups, one bullet each:

* transactions — ``BEGIN [TRANSACTION]`` / ``COMMIT`` / ``ROLLBACK``
  (demos/01_transaction_rollback/demo.py:85-104)
* the attach list — ``ATTACH '<path>' AS name [(READ_ONLY, DATA_PATH
  '<dir>')]`` / ``DETACH`` / ``USE <attached|main>`` (switches the default
  catalog) / ``SHOW DATABASES`` / ``COPY FROM DATABASE a TO b``
  (demos/05_catalog_portability/demo.py:194-299)
* database files — ``EXPORT DATABASE '<dir>' [(FORMAT PARQUET|CSV)]`` /
  ``IMPORT DATABASE '<dir>'`` (DuckDB's portability pair)
* materialized views — ``CREATE [OR REPLACE] MATERIALIZED VIEW mv AS SELECT
  ...`` / ``REFRESH`` / ``DROP``: the continuous-aggregate tier of
  :mod:`ducktales_spark.lake.rollup` (its incrementally-maintainable SELECT
  subset is documented at :meth:`SQLExecutor._parse_mv_select`)
* views and tables — ``CREATE [OR REPLACE] VIEW``, CTAS ``CREATE [OR
  REPLACE] TABLE t [PARTITION BY (c)] AS <select>``, ``CREATE TABLE [IF NOT
  EXISTS] t (col TYPE [PRIMARY KEY] [NOT NULL] [DEFAULT lit], ...)
  [PARTITION BY (c)]``, ``DROP TABLE|VIEW [IF EXISTS]``, ``ALTER TABLE t
  ADD|DROP|RENAME COLUMN``, ``ALTER COLUMN c SET NOT NULL | [SET DATA] TYPE
  t`` (widening only), ``SET|RESET PARTITIONED BY | ZORDER BY``
  (demos/03_schema_evolution/demo.py)
* introspection — ``SUMMARIZE <table|select>``, ``DESCRIBE <table|query>``,
  ``PRAGMA table_info(t)``, ``SHOW TABLES`` / ``PRAGMA show_tables``
* DML — ``CHECKPOINT [name | cat.t]``, ``INSERT [OR REPLACE|IGNORE] INTO t
  [(cols)] VALUES ... | <select>``, ``UPDATE t SET ... [WHERE]``, ``DELETE
  FROM t [WHERE]``, ``TRUNCATE [TABLE] t``, ``MERGE [WITH SCHEMA EVOLUTION]
  INTO t USING ... WHEN ...`` (demo 01:58-102, demos/02_time_travel)
* procedures — ``CALL expire_snapshots | compact | optimize | flush_inlined
  | gc | add_retention_policy | build_vector_index | extend_vector_index |
  remove_vectors | probe_vector_index (...)`` and the DuckLake
  ``ducklake_*`` spellings
* files — ``COPY <table|(subquery)> TO '<path>' [(...)]`` (one file for
  ``*.parquet``/``*.csv``, else a part-file directory) and ``COPY t FROM
  '<path>' [(...)]``; ``read_parquet('path')`` / ``read_csv('path', ...)``
  table functions work inside any query
* anything else — a read query via Catalyst, with the ``AT
  (VERSION|TIMESTAMP =>)`` time-travel rewrite (README.md:216-220) and the
  ``ducklake_*`` metadata table functions

Every table name a write or DESCRIBE takes may be catalog-qualified
(``cat.t``): ``SQLExecutor._resolve`` maps the qualifier to this catalog
(``main`` or the executor's own alias) or an attached one, and refuses
writes into a READ_ONLY attachment. Attached catalogs are writable:
qualified INSERT/CTAS/UPDATE/DELETE/DDL/MERGE/CHECKPOINT/CALL run in them.

Every *query body* (SELECT in CTAS/INSERT/VIEW, VALUES lists, SET/WHERE
expressions) is handed to Spark SQL — we never re-implement expression
parsing, so the full Catalyst surface is available inside each statement.
Inside an open transaction, reads see read-your-writes (touched tables
bind to the transaction's staged state).
"""

from __future__ import annotations

import hashlib
import re


from pyspark.sql import DataFrame

from .rollup import strip_sql_literals
from .schema import Field, TableSchema

__all__ = ["SQLExecutor", "LakeSQLError"]


class LakeSQLError(Exception):
    pass


_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"

# An optionally catalog-qualified table name, `[cat.]name`: the verb table
# hands the `cat` group to SQLExecutor._resolve.
_T = rf"(?:(?P<cat>{_IDENT})\s*\.\s*)?(?P<name>{_IDENT})"

# Verb-table entry flags (see _VERBS at the end of the module):
# _MUTATES — writes its target catalog: resolved as a write (a READ_ONLY
# target is refused) and snapshotted for statement atomicity inside BEGIN;
# _SELF_COMMITS — commits snapshots (or external files) of its own, so it
# is refused inside BEGIN; _LOCAL — manages this executor's attach list,
# so it runs here even under `USE <attached>`.
_MUTATES, _SELF_COMMITS, _LOCAL = 1, 2, 4


def _col_list(s) -> list:
    """``'a, b'`` -> ``['a', 'b']``; None -> ``[]``."""
    return [c.strip() for c in (s or "").split(",") if c.strip()]

# reference (DuckDB) type -> Spark DDL type string (SURVEY.md §1.2)
_TYPE_MAP = {
    "integer": "int",
    "int": "int",
    "int4": "int",
    "bigint": "bigint",
    "int8": "bigint",
    "smallint": "smallint",
    "tinyint": "tinyint",
    "varchar": "string",
    "text": "string",
    "string": "string",
    "double": "double",
    "real": "float",
    "float": "float",
    "boolean": "boolean",
    "bool": "boolean",
    "timestamp": "timestamp",
    "date": "date",
}


def _map_type(t: str) -> str:
    t = t.strip().lower()
    m = re.fullmatch(r"(varchar|char)\s*\(\s*\d+\s*\)", t)
    if m:
        return "string"  # length is a hint, unenforced (SURVEY §1.2)
    m = re.fullmatch(r"(decimal|numeric)\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", t)
    if m:
        return f"decimal({m.group(2)},{m.group(3)})"
    if t in _TYPE_MAP:
        return _TYPE_MAP[t]
    return t  # assume already a Spark DDL type (array<float> etc.)


def _strip(sql: str) -> str:
    """Remove comments + trailing semicolons, collapse leading space.
    Quote-aware: ``--`` or ``/*`` INSIDE a string literal is data, not a
    comment (``SELECT 'a--b'`` must survive intact)."""
    out = []
    i, n = 0, len(sql)
    in_str = False
    while i < n:
        ch = sql[i]
        if in_str:
            out.append(ch)
            if ch == "'":
                # '' is an escaped quote inside the literal
                if i + 1 < n and sql[i + 1] == "'":
                    out.append("'")
                    i += 1
                else:
                    in_str = False
            i += 1
            continue
        if ch == "'":
            in_str = True
            out.append(ch)
            i += 1
            continue
        if ch == "-" and sql.startswith("--", i):
            j = sql.find("\n", i)
            i = n if j == -1 else j  # keep the newline as separator
            out.append(" ")
            continue
        if ch == "/" and sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            i = n if j == -1 else j + 2
            out.append(" ")
            continue
        out.append(ch)
        i += 1
    return "".join(out).strip().rstrip(";").strip()


def _norm_sql_expr(t: str) -> str:
    """Normalize one SQL expression for TEXTUAL identity comparison:
    lowercase + collapse whitespace OUTSIDE string literals, literals
    verbatim — so ``concat(r, 'EU')`` never compares equal to
    ``concat(r, 'eu')`` (the matching is textual, like Postgres matching
    a GROUP BY item to a select expression by equivalence; semantically
    different literals must be a mismatch)."""
    from .rollup import map_sql_nonliteral

    return map_sql_nonliteral(
        t, lambda s: re.sub(r"\s+", " ", s).lower()
    ).strip()


def _split_top(s: str) -> list:
    """Split on top-level commas (outside parens, braces, and quotes —
    braces carry read_csv/COPY ``columns {'a': 'INT', ...}`` structs)."""
    out, depth, cur, in_str = [], 0, [], False
    for ch in s:
        if ch == "'":
            in_str = not in_str
        elif not in_str:
            if ch in "({":
                depth += 1
            elif ch in ")}":
                depth -= 1
            elif ch == "," and depth == 0:
                out.append("".join(cur).strip())
                cur = []
                continue
        cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        out.append(tail)
    return out


def _top_keyword_positions(s: str, kw: str):
    """Start indices of top-level (outside parens and string literals)
    occurrences of the WORD ``kw``, case-insensitive."""
    depth, in_str = 0, False
    k = len(kw)
    out = []
    for i, ch in enumerate(s):
        if ch == "'":
            in_str = not in_str
        elif not in_str:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif depth == 0 and s[i : i + k].upper() == kw.upper():
                before = s[i - 1] if i else ""
                after = s[i + k : i + k + 1]
                if not (before.isalnum() or before == "_") and not (
                    after.isalnum() or after == "_"
                ):
                    out.append(i)
    return out


def _split_keyword(s: str, kw: str) -> list:
    """Split on top-level occurrences of the word ``kw`` (the keyword is
    consumed); leading segment included if non-empty."""
    pos = _top_keyword_positions(s, kw)
    if not pos:
        return [s.strip()] if s.strip() else []
    out = []
    prev = 0
    for p in pos:
        seg = s[prev:p].strip()
        if seg or prev:
            out.append(seg)
        prev = p + len(kw)
    out.append(s[prev:].strip())
    return out


def _merge_when_positions(s: str) -> list:
    """Top-level positions of MERGE clause heads: ``WHEN`` immediately
    followed by ``[NOT] MATCHED``. A bare top-level WHEN (a CASE
    expression inside an un-parenthesized SET expression) is NOT a clause
    boundary."""
    return [
        p
        for p in _top_keyword_positions(s, "WHEN")
        if re.match(r"WHEN\s+(NOT\s+)?MATCHED\b", s[p:], re.I)
    ]


def _unwrap_parens(s: str) -> str:
    """Strip redundant OUTER parens (quote-aware): ``(t.id = s.id)`` ->
    ``t.id = s.id``; ``(a) = (b)`` is left alone (the first paren closes
    early)."""
    s = s.strip()
    while s.startswith("(") and s.endswith(")"):
        depth, in_str, closes_early = 0, False, False
        for ch in s[:-1]:
            if ch == "'":
                in_str = not in_str
            elif not in_str:
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0:
                        closes_early = True
                        break
        if closes_early:
            break
        s = s[1:-1].strip()
    return s


def _split_last_where(s: str):
    """Split ``s`` at the LAST top-level WHERE (outside parens and string
    literals). Returns (head, predicate_or_None). A first-match split breaks
    ``SET a = (SELECT ... WHERE ...) WHERE id = 2`` and literals containing
    the word."""
    depth, in_str = 0, False
    last = None
    for i, ch in enumerate(s):
        if ch == "'":
            in_str = not in_str
        elif not in_str:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif depth == 0 and s[i : i + 5].upper() == "WHERE":
                before_ok = i == 0 or s[i - 1].isspace()
                after = s[i + 5 : i + 6]
                if before_ok and (after == "" or after.isspace()):
                    last = i
    if last is None:
        return s, None
    return s[:last].rstrip(), s[last + 5 :].strip()


class SQLExecutor:
    """Stateful statement executor bound to one LakeCatalog (the analog of a
    DuckDB connection with the ducklake catalog attached)."""

    def __init__(self, catalog):
        self.c = catalog
        self._tx = None  # open explicit transaction, if any
        # mv_name -> (catalog_version, meta_row_dict), so the per-query MV
        # read overlay doesn't re-collect the one-row meta table on every
        # bind. Keyed by name with only the latest version kept: a
        # long-lived executor on a busy catalog stays O(#MVs), not
        # O(#MVs x versions)
        self._mv_cols = {}
        # ATTACH'd secondary catalogs: lowercased name -> LakeCatalog.
        # Session-scoped like DuckDB's ATTACH; every qualifier naming one
        # resolves through _resolve.
        self._attached = {}
        # lazily-built delegate executors, one per attached name
        self._att_sql = {}
        # the name unqualified statements resolve to: 'main' here, the
        # attach alias in a delegate executor
        self._alias = "main"
        # `USE <attached>` default-catalog selection (None = bound catalog)
        self._use = None
        # names attached with (READ_ONLY): writes into them raise
        self._att_readonly = set()
        # read_parquet/read_csv temp views registered while rewriting the
        # CURRENT statement — dropped right after its plan is analyzed
        # (_query), so file views never accumulate in the session catalog
        self._file_views = []

    # -- staged-aware existence (an open txn's DDL must be visible to the
    # next statement's checks, not just committed state) -----------------
    def _table_exists(self, name: str) -> bool:
        if self._tx is not None:
            st = self._tx._state(name, must_exist=False)
            if st is not None:
                return not st.dropped
        return name in self.c.tables()

    def _view_exists(self, name: str) -> bool:
        exists = name in self.c.views()
        if self._tx is not None:
            for vname, vsql in self._tx._view_ops:
                if vname == name:
                    exists = vsql is not None
        return exists

    # ------------------------------------------------------------------
    def execute(self, sql: str, version=None) -> DataFrame:
        return self._dispatch(_strip(sql), version)

    def _dispatch(self, q: str, version=None) -> DataFrame:
        """Run one stripped statement: the first ``_VERBS`` entry whose
        pattern matches handles it; anything else is a read query.

        * Under ``USE <attached>`` every statement except the attach-list
          verbs (``_LOCAL``) runs wholesale in the default catalog's
          delegate executor — unqualified names, DML/DDL and BEGIN/COMMIT
          all operate there, DuckDB's default-catalog semantics.
        * ``_SELF_COMMITS`` entries are refused inside BEGIN.
        * A ``_MUTATES`` entry resolves its target (the ``cat`` group, the
          default catalog when absent) as a write, so a READ_ONLY target
          raises before anything runs. Inside an explicit transaction it
          gets STATEMENT-LEVEL ATOMICITY (Postgres/DuckDB semantics): a
          statement that raises restores the transaction's staging
          buffers to their pre-statement state, so a later COMMIT can
          never persist the partial effects of a failed statement (e.g.
          schema evolution a failed MERGE WITH SCHEMA EVOLUTION had
          staged). Snapshot/restore is pure driver-side metadata — no
          Spark job; reads skip it, so a SELECT-heavy interactive txn
          pays no deepcopy per read.

        A handler gets the match and the target executor and returns its
        result frame, or the affected row count (None = 0), which becomes
        the ``(op, rows)`` status row named by the entry's label."""
        for label, pat, handler, flags in _VERBS:
            m = pat.match(q)
            if m:
                break
        else:
            handler, flags = None, 0
        if self._use is not None and not flags & _LOCAL:
            dex = self._resolve(self._use)
            if dex is not None:
                return dex._dispatch(q, version)
            self._use = None  # DETACH'd underneath
        if handler is None:
            return self._query(q, version)
        if flags & _SELF_COMMITS:
            self._no_txn(label)
        cat = m.groupdict().get("cat")
        dex = self._resolve(cat, write=bool(flags & _MUTATES))
        if dex is None:
            if flags & _MUTATES:
                raise LakeSQLError(f"no attached catalog named {cat!r}")
            # a read's unknown qualifier is the bound catalog's own mount
            # alias (exploration/ducklake_analysis.sh:194 `DESCRIBE
            # lake.sales_data`)
            dex = self
        tx = self._tx
        snap = (
            tx._snapshot_staging()
            if tx is not None and flags & _MUTATES
            else None
        )
        try:
            out = handler(self, m, dex)
        except BaseException:
            if snap is not None and self._tx is tx:
                tx._restore_staging(snap)  # undo this statement only
            raise
        if isinstance(out, DataFrame):
            return out
        return self._status(label, out or 0)

    def _resolve(self, cat=None, write: bool = False):
        """The one qualifier rule every verb goes through: ``cat`` (None =
        unqualified) -> the executor owning that catalog, or None when the
        name is neither attached nor ``main`` (each verb decides what an
        unknown name means).

        No qualifier and this executor's own alias resolve to ``self``: the
        unqualified statement has the exact semantics, open-transaction
        staging included. ``main`` names the bound catalog everywhere — a
        delegate inherits it in its attach list, so ``main.t`` means the
        same thing at every delegation depth. An attached name resolves to
        its lazily-built delegate executor, which sees the SAME attach
        list (refreshed on every resolution, so ATTACH/DETACH changes
        propagate): under ``USE prod``, ``dev.t`` and ``main.t`` keep
        resolving, DuckDB's attach-list semantics.

        A write refuses a READ_ONLY target (the delegate of a READ_ONLY
        attachment refuses writes to itself, which is how ``USE``-defaulted
        writes are refused) and, when it leaves this executor's catalog,
        an open transaction here: the attached catalog autocommits, and a
        transaction has one write target (DuckDB's cross-database rule)."""
        key = (cat or self._alias).lower()
        c = self._attached.get(key, self.c if key == "main" else None)
        if c is None:
            return None
        if write and c is not self.c:
            self._no_txn(f"write to attached catalog {cat!r}")
        if write and key in self._att_readonly:
            raise LakeSQLError(f"catalog {key!r} is attached READ_ONLY")
        if c is self.c:
            return self
        dex = self._att_sql.get(key)
        if dex is None:
            dex = self._att_sql[key] = SQLExecutor(c)
        shared = dict(self._attached)
        # setdefault, not assignment: in a DELEGATE executor the inherited
        # 'main' already names the top-level bound catalog
        shared.setdefault("main", self.c)
        dex._attached, dex._alias = shared, key
        dex._att_readonly = set(self._att_readonly)
        # drop delegate sub-executors whose name was re-bound to a
        # different catalog (DETACH + ATTACH same alias, new path)
        dex._att_sql = {
            k: v for k, v in dex._att_sql.items() if shared.get(k) is v.c
        }
        return dex

    # -- verb handlers: (self, m, dex) -> result frame | row count ---------
    def _begin(self, m, dex):
        if self._tx is not None:
            raise LakeSQLError("transaction already open")
        self._tx = self.c.transaction()

    def _end_txn(self, m, dex):
        """COMMIT (rows = the new snapshot id) / ROLLBACK."""
        if self._tx is None:
            raise LakeSQLError("no open transaction")
        tx, self._tx = self._tx, None
        return getattr(tx, m[0].lower())()

    def _use_stmt(self, m, dex):
        """DuckDB's default-catalog switch, the reference migration flow's
        spelling (demos/05_catalog_portability/demo.py:200,212 `USE dev` /
        `USE prod`): an ATTACH'd name becomes the default for subsequent
        unqualified statements (each delegated wholesale to that catalog's
        delegate executor, including its own BEGIN/COMMIT state); any other
        name — the bound catalog under whatever alias the user mounted it —
        resets to the bound catalog."""
        key = m["name"].lower()
        cur = self._att_sql.get(self._use)
        if key != self._use and cur is not None and cur._tx is not None:
            # switching away would leave the default's open transaction
            # dangling (a later USE back could land it; a DETACH would
            # silently discard its staged writes)
            raise LakeSQLError(
                f"catalog {self._use!r} has an open transaction: "
                "COMMIT or ROLLBACK it before USE"
            )
        if key in self._attached:
            self._no_txn("USE <attached catalog>")
            self._use = key
        else:
            self._use = None

    def _show_databases(self, m, dex):
        """DuckDB's attach-list introspection: the bound catalog (spelled
        'main', its USE-reset alias) plus every ATTACH'd name, with the
        read-only flag and the current default."""
        rows = [("main", False, self._use is None)] + [
            (n, n in self._att_readonly, n == self._use)
            for n in sorted(self._attached)
        ]
        return self.c.spark.createDataFrame(
            rows, "name string, read_only boolean, is_default boolean"
        )

    def _show_tables(self, m, dex):
        from .rollup import _meta_name

        ts = set(self.c.tables())
        # an MV's meta companion is an implementation detail: list the
        # MV once (its meta stays directly readable/describable)
        names = sorted(
            n
            for n in (ts | set(self.c.views()))
            if not (
                n.endswith("__rollup_meta")
                and n[: -len("__rollup_meta")] in ts
                and _meta_name(n[: -len("__rollup_meta")]) == n
            )
        )
        return self.c.spark.createDataFrame(
            [(n,) for n in names], "name string"
        )

    def _create_view(self, m, dex):
        name = m["name"]
        if not m["replace"] and self._view_exists(name):
            raise LakeSQLError(f"view {name!r} exists")
        self._run(lambda tx: tx.create_view(name, m["body"]))

    def _drop_view(self, m, dex):
        if not m["ifx"] or self._view_exists(m["name"]):
            self._run(lambda tx: tx.drop_view(m["name"]))

    def _ctas(self, m, dex):
        """CTAS (S5), optionally range-clustered (X2). The source query
        evaluates in THIS executor's scope and the rows land through the
        target's transaction — that is what makes cross-catalog ``CREATE
        TABLE prod.t AS SELECT ... FROM main_table`` work in both
        directions. The row count comes from the write itself, not a
        second execution of the source query."""
        name = m["name"]
        df = self._query(m["body"])

        def op(tx):
            st = tx._state(name, must_exist=False)
            if m["replace"] and st is not None and not st.dropped:
                tx.drop_table(name)
            return tx.ctas(name, df, partition_by=_col_list(m["pby"]))

        return dex._run(op)

    def _create_table(self, m, dex):
        name = m["name"]
        if dex._table_exists(name):
            if m["ifnot"]:
                return 0
            raise LakeSQLError(f"table {name!r} exists")
        schema = self._parse_coldefs(m["cols"])
        dex._run(
            lambda tx: tx.create_table(
                name, schema, partition_by=_col_list(m["pby"])
            )
        )

    def _drop_table(self, m, dex):
        if not m["ifx"] or dex._table_exists(m["name"]):
            dex._run(lambda tx: tx.drop_table(m["name"]))

    def _add_column(self, m, dex):
        default = self._literal(m["dflt"]) if m["dflt"] is not None else None
        dex._run(
            lambda tx: tx.add_column(
                m["name"], m["col"], _map_type(m["typ"]), default
            )
        )

    def _describe_table(self, m, dex):
        return dex._describe(m["name"])

    def _describe_query(self, m, dex):
        """DESCRIBE <query> (DuckDB): the query's resolved schema as rows —
        analysis only, nothing executes."""
        df = self._query(m["body"])
        return self.c.spark.createDataFrame(
            [
                (
                    f.name,
                    f.dataType.simpleString().upper(),
                    "YES" if f.nullable else "NO",
                    None,
                    None,
                    None,
                )
                for f in df.schema.fields
            ],
            "column_name string, column_type string, null string, "
            "key string, default string, extra string",
        )

    def _checkpoint(self, m, dex):
        """DuckDB's CHECKPOINT flushes buffered WAL state to storage; the
        lake analogue is flushing catalog-inlined rows into parquet files
        (README.md:243 inlining): one table (optionally qualified,
        ``CHECKPOINT att.t``) or, bare, every table."""
        names = [m["name"]] if m["name"] else list(dex.c.tables())

        def op(tx):
            for t in names:
                tx.flush_inlined(t)

        dex._run(op)
        return len(names)

    def _checkpoint_name(self, m, dex):
        """``CHECKPOINT <name>``: DuckDB's database argument — an attached
        catalog (or ``main``) is flushed whole, but a LOCAL table of the
        same name wins the tie."""
        name = m["name"]
        if self._table_exists(name) or self._resolve(name) is None:
            return self._dispatch(f"CHECKPOINT {self._alias}.{name}")
        return self._resolve(name, write=True)._dispatch("CHECKPOINT")

    def _insert(self, m, dex):
        """``INSERT [OR REPLACE|IGNORE] INTO t [(cols)] VALUES ... |
        <select>``: the source evaluates in THIS executor's scope (main
        tables + qualified attached reads) and lands through the target's
        transaction, so a qualified target is the same statement."""
        mode, name, body = m["mode"], m["name"], m["body"]
        cols = None
        # a leading "(a, b, c)" identifier list is the column list; a
        # leading "(SELECT ..." is a parenthesized query body
        mm = re.match(r"^\(([^)]*)\)\s*(.*)$", body, re.S)
        if mm and all(
            re.fullmatch(_IDENT, c.strip()) for c in mm.group(1).split(",")
        ):
            cols = [c.strip() for c in mm.group(1).split(",")]
            body = mm.group(2)
        if re.match(r"^VALUES\b", body, re.I):
            df = self.c.spark.sql(f"SELECT * FROM ({body})")
            # VALUES yields col1..colN: name them from the column list,
            # else positionally in table order
            schema = dex._schema_of(name)
            names = cols or [f.name for f in schema.fields][: len(df.columns)]
            # Cast each VALUES column to its TARGET column type before
            # collecting: Spark types a bare `2.0` literal DECIMAL(2,1),
            # and an un-cast Decimal stored in an inlined row would fail
            # the read-side DataFrame build against a DOUBLE column.
            types = {f.name: f.type for f in schema.fields}
            from pyspark.sql import functions as F

            df = df.toDF(*names).select(
                *[
                    F.col(c).cast(types[c]).alias(c)
                    if c in types
                    else F.col(c)
                    for c in names
                ]
            )
            if not mode:
                # a literal VALUES plan is a LocalRelation — collect() is
                # driver-side, so tiny inserts take insert_rows'
                # no-Spark-job inlining fast path (sub-ms writes,
                # README.md:243)
                rows = [dict(zip(names, tup)) for tup in df.collect()]
                dex._run(lambda tx: tx.insert_rows(name, rows))
                return len(rows)
        else:
            df = self._query(body)
            if cols is not None:
                if len(cols) != len(df.columns):
                    raise LakeSQLError(
                        f"column list has {len(cols)} names, query "
                        f"produces {len(df.columns)} columns"
                    )
                df = df.toDF(*cols)
        if mode:
            return dex._upsert_insert(name, df, mode)
        # count from the write itself — not a second source execution
        return dex._run(lambda tx: tx.insert(name, df))

    def _update(self, m, dex):
        # split at the LAST top-level WHERE: a first-match split breaks
        # SET expressions containing subqueries or 'where' in a literal
        setlist, where = _split_last_where(m["body"])
        # bind table views so scalar subqueries in SET/WHERE resolve
        # (against pre-statement state, DuckDB UPDATE semantics)
        dex._bind_tables()
        sets = {}
        for part in _split_top(setlist):
            mm = re.match(rf"^({_IDENT})\s*=\s*(.+)$", part, re.S)
            if not mm:
                raise LakeSQLError(f"bad SET clause: {part!r}")
            sets[mm.group(1)] = mm.group(2).strip()
        return dex._run(lambda tx: tx.update(m["name"], sets, where))

    def _delete(self, m, dex):
        dex._bind_tables()  # subqueries in WHERE resolve pre-statement
        return dex._run(lambda tx: tx.delete(m["name"], m["where"]))

    # -- materialized views (continuous aggregates behind SQL) ----------
    _MV_UNITS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}
    # time-dependent / volatile names refused in a filtered MV's WHERE
    # (both call forms matter: current_timestamp parses as a bare keyword,
    # now() as a function)
    _MV_NONDETERMINISTIC = frozenset(
        "now current_timestamp current_date current_time localtimestamp "
        "today rand randn random uuid shuffle unix_timestamp "
        "current_timezone session_user current_user user "
        "monotonically_increasing_id input_file_name "
        "spark_partition_id".split()
    )
    _MV_AGG = re.compile(
        rf"^(COUNT|SUM|AVG|MIN|MAX|APPROX_COUNT_DISTINCT"
        rf"|STDDEV_SAMP|STDDEV_POP|STDDEV|VAR_SAMP|VAR_POP|VARIANCE)\s*"
        rf"\(\s*(DISTINCT\s+)?(\*|{_IDENT})\s*\)"
        rf"(?:\s+AS\s+({_IDENT}))?$",
        re.I,
    )
    _MV_BUCKET = re.compile(
        r"^time_bucket\s*\(\s*(?:INTERVAL\s+'(\d+)\s*"
        rf"(second|minute|hour|day)s?'|(\d+))\s*,\s*({_IDENT})\s*\)"
        rf"(?:\s+AS\s+({_IDENT}))?$",
        re.I,
    )
    # unanchored _MV_AGG twin for rewriting aggregate spellings inside a
    # HAVING predicate to their canonical read-face column names
    _MV_HAVING_AGG = re.compile(
        rf"\b(COUNT|SUM|AVG|MIN|MAX|APPROX_COUNT_DISTINCT"
        rf"|STDDEV_SAMP|STDDEV|VAR_SAMP|VARIANCE)\s*"
        rf"\(\s*(DISTINCT\s+)?(\*|{_IDENT})\s*\)",
        re.I,
    )

    # -- MERGE INTO (SQL face of Transaction.merge) ----------------------
    @staticmethod
    def _scan_merge_source(rest: str):
        """The USING payload: ``(subquery) ...`` or a table name —
        optionally catalog-qualified (``dev.changes``) -> (src_sql,
        src_name, tail) with exactly one of the first two set."""
        rest = rest.lstrip()
        if rest.startswith("("):
            depth, in_str, end = 0, False, None
            for i, ch in enumerate(rest):
                if ch == "'":
                    in_str = not in_str
                elif not in_str:
                    if ch == "(":
                        depth += 1
                    elif ch == ")":
                        depth -= 1
                        if depth == 0:
                            end = i
                            break
            if end is None:
                raise LakeSQLError("unbalanced parens in MERGE USING")
            return rest[1:end], None, rest[end + 1 :]
        mm = re.match(rf"^({_IDENT}(?:\s*\.\s*{_IDENT})?)", rest)
        if not mm:
            raise LakeSQLError("bad MERGE USING clause")
        return None, mm.group(1), rest[mm.end() :]

    def _merge_stmt(self, m, dex):
        """``MERGE [WITH SCHEMA EVOLUTION] INTO [cat.]t [AS a] USING
        (<query>|table) [AS b] ON <equi-cond>
        [SEQUENCE BY <source col>]
        WHEN MATCHED [AND cond] THEN UPDATE SET (* | c = expr, ...) | DELETE
        WHEN NOT MATCHED [BY TARGET] [AND cond] THEN INSERT [* | (cols) VALUES (exprs)]
        WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET ... | DELETE``

        The full standard tri-clause MERGE: BY SOURCE clauses act on
        target rows absent from the source (mirror/full-sync CDC — the
        reference composes this from DELETE + versioned re-INSERT,
        demos/02_time_travel/demo.py:112,228-235); their expressions see
        only the target row. ``SEQUENCE BY`` (non-standard, Databricks
        APPLY CHANGES-style) keeps only the latest source row per key for
        out-of-order CDC feeds; exact (key, sequence) ties are a clean
        duplicate-key error.

        The SQL face of the engine's merge: the ON condition must be a
        conjunction of target-key = source-key equalities (the engine's
        merge contract — its file pruning and hit-subset scan key on those
        columns); WHEN clauses map to when_matched / when_not_matched with
        per-column SET/VALUES expressions rewritten to the engine contract
        (target columns plain, source columns ``__s_<col>``). DuckLake
        itself ships MERGE as SQL surface; the reference's demos reach the
        same state via UPDATE+INSERT pairs
        (demos/01_transaction_rollback/demo.py:58-102).

        Like INSERT/CTAS, the USING payload evaluates in THIS executor's
        scope and the merge runs through the target's transaction, so
        cross-catalog upserts (``MERGE INTO prod.t USING dev_changes ...``)
        work in both directions."""
        mm = re.match(
            rf"^(?:\s+(?:AS\s+)?(?!USING\b)({_IDENT}))?\s+USING\s+(.*)$",
            m["rest"],
            re.I | re.S,
        )
        if not mm:
            raise LakeSQLError("bad MERGE INTO syntax")
        target, evolve = m["name"], bool(m["evolve"])
        t_alias, rest = mm.groups()
        if not dex._table_exists(target):
            raise LakeSQLError(f"no such table: {target!r}")
        src_sql, src_name, rest = self._scan_merge_source(rest)
        mm = re.match(rf"^\s*(?:AS\s+)?(?!ON\b)({_IDENT})", rest, re.I)
        s_alias = None
        if mm:
            s_alias, rest = mm.group(1), rest[mm.end() :]
        mm = re.match(r"^\s*ON\b", rest, re.I)
        if not mm:
            raise LakeSQLError("MERGE requires an ON condition")
        rest = rest[mm.end() :]
        wpos = _merge_when_positions(rest)
        if not wpos:
            raise LakeSQLError("MERGE requires at least one WHEN clause")
        on_txt = rest[: wpos[0]]
        seq_qual = seq_name = None
        mseq = re.search(
            rf"\bSEQUENCE\s+BY\s+(?:({_IDENT})\s*\.\s*)?({_IDENT})\s*$",
            on_txt,
            re.I,
        )
        if mseq:
            seq_qual, seq_name = mseq.group(1), mseq.group(2)
            on_txt = on_txt[: mseq.start()]
        cond = _unwrap_parens(on_txt.strip())
        clauses_text = rest[wpos[0] :]

        # source DataFrame binds pre-statement state (read-your-writes
        # inside an open txn), exactly like UPDATE/DELETE subqueries
        src_df = self._query(
            src_sql if src_sql is not None else f"SELECT * FROM {src_name}"
        )
        sch = dex._schema_of(target)
        t_cols = {f.name.lower(): f.name for f in sch.fields}
        s_cols = {c.lower(): c for c in src_df.columns}
        t_al = (t_alias or target).lower()
        # a catalog-qualified source's implicit alias is the bare table
        # name (standard SQL: USING dev.changes ... ON changes.id = ...)
        s_al = (
            s_alias or (src_name or "").rsplit(".", 1)[-1].strip()
        ).lower()
        if s_al == t_al:
            raise LakeSQLError(
                "MERGE target and source need distinct aliases"
            )

        def _side(qual, col):
            ql, cl = (qual or "").lower(), col.lower()
            if ql == t_al:
                if cl not in t_cols:
                    raise LakeSQLError(f"unknown target column {col!r}")
                return ("t", t_cols[cl])
            if ql and ql == s_al:
                if cl not in s_cols:
                    raise LakeSQLError(f"unknown source column {col!r}")
                return ("s", s_cols[cl])
            if ql:
                raise LakeSQLError(f"unknown alias {qual!r} in MERGE ON")
            in_t, in_s = cl in t_cols, cl in s_cols
            if in_t and in_s:
                return ("both", col)
            if in_t:
                return ("t", t_cols[cl])
            if in_s:
                return ("s", s_cols[cl])
            raise LakeSQLError(f"unknown column {col!r} in MERGE ON")

        pairs = []  # (target_key, source_key)
        for conj in _split_keyword(cond, "AND"):
            mm = re.match(
                rf"^(?:({_IDENT})\s*\.\s*)?({_IDENT})\s*=\s*"
                rf"(?:({_IDENT})\s*\.\s*)?({_IDENT})$",
                _unwrap_parens(conj),
            )
            if not mm:
                raise LakeSQLError(
                    f"MERGE ON supports only key equalities "
                    f"(AND-ed); got {conj.strip()!r}"
                )
            a = _side(mm.group(1), mm.group(2))
            b = _side(mm.group(3), mm.group(4))
            sides = {a[0], b[0]}
            if sides == {"both"} or (a[0] == "both" and b[0] == "both"):
                pairs.append((t_cols[a[1].lower()], s_cols[b[1].lower()]))
            elif "t" in sides and ("s" in sides or "both" in sides):
                t_key = a[1] if a[0] == "t" else b[1]
                other = b if a[0] == "t" else a
                pairs.append((t_key, s_cols[other[1].lower()]))
            elif "s" in sides and "both" in sides:
                s_key = a[1] if a[0] == "s" else b[1]
                other = b if a[0] == "s" else a
                pairs.append((t_cols[other[1].lower()], s_key))
            else:
                raise LakeSQLError(
                    f"MERGE ON equality must pair a target and a source "
                    f"column: {conj.strip()!r}"
                )
        if not pairs:
            # a degenerate ON ('ON WHEN MATCHED ...', 'ON ()') would
            # otherwise reach the engine with on=[] and die inside
            # src.agg()/reduce() with an opaque PySpark error
            raise LakeSQLError(
                "MERGE ON requires at least one target = source key equality"
            )

        # rename source key columns to the target key names; src_map sends
        # ORIGINAL source spellings to the engine's __s_<renamed> names
        on, src_map = [], {}
        for cl, orig in s_cols.items():
            src_map[cl] = f"__s_{orig}"
        for t_key, s_key in pairs:
            on.append(t_key)
            if s_key.lower() == t_key.lower():
                # same column, possibly spelled with different case: align
                # the spelling, never a collision (it IS that column)
                if s_key != t_key:
                    src_df = src_df.withColumnRenamed(s_key, t_key)
                    src_map[s_key.lower()] = f"__s_{t_key}"
            else:
                if t_key.lower() in s_cols:
                    raise LakeSQLError(
                        f"cannot rename source key {s_key!r} to {t_key!r}:"
                        f" the source already has a {t_key!r} column"
                    )
                src_df = src_df.withColumnRenamed(s_key, t_key)
                src_map[s_key.lower()] = f"__s_{t_key}"
        on_lower = frozenset(k.lower() for k in on)
        seq_engine = None
        if seq_name is not None:
            sq = (seq_qual or "").lower()
            if sq and sq != s_al:
                raise LakeSQLError(
                    f"SEQUENCE BY column must come from the source "
                    f"(got alias {seq_qual!r})"
                )
            scl = seq_name.lower()
            if scl not in s_cols:
                raise LakeSQLError(
                    f"unknown source column {seq_name!r} in SEQUENCE BY"
                )
            # src_map sends the ORIGINAL spelling to __s_<renamed>; the
            # engine wants the post-rename source column name
            seq_engine = src_map[scl][len("__s_"):]
            if seq_engine.lower() in on_lower:
                raise LakeSQLError(
                    "SEQUENCE BY column cannot be a merge key (it is "
                    "constant within a key)"
                )
        if evolve:
            # WITH SCHEMA EVOLUTION: every column the ENGINE will add
            # (auto_merge_schema) becomes referenceable as a target column
            # at parse time — that is the POST-rename source column set
            # minus the sequence column (transport metadata, never added).
            # Augmenting from the raw s_cols here would leak pre-rename
            # key spellings and the sequence column into UPDATE SET *.
            for c in src_df.columns:
                if seq_engine is not None and c == seq_engine:
                    continue
                t_cols.setdefault(c.lower(), c)

        def _parse_update_sets(body, by_source=False):
            if body.strip() == "*":
                if by_source:
                    raise LakeSQLError(
                        "UPDATE SET * needs a source row; a WHEN NOT "
                        "MATCHED BY SOURCE clause must assign explicit "
                        "expressions"
                    )
                sets = {
                    t_cols[cl]: f"__s_{s_cols[cl]}"
                    for cl in (set(t_cols) & set(s_cols))
                    if t_cols[cl] not in on
                }
                if not sets:
                    raise LakeSQLError(
                        "UPDATE SET *: no non-key source column matches "
                        "a target column"
                    )
                return sets
            sets = {}
            for part in _split_top(body):
                ms = re.match(
                    rf"^(?:({_IDENT})\s*\.\s*)?({_IDENT})\s*=\s*(.+)$",
                    part,
                    re.S,
                )
                if not ms:
                    raise LakeSQLError(f"bad SET clause: {part!r}")
                if ms.group(1) and ms.group(1).lower() != t_al:
                    raise LakeSQLError(
                        f"SET may only assign target columns: {part!r}"
                    )
                cl = ms.group(2).lower()
                if cl not in t_cols:
                    raise LakeSQLError(
                        f"unknown target column {ms.group(2)!r}"
                    )
                sets[t_cols[cl]] = self._rewrite_merge_expr(
                    ms.group(3).strip(), t_al, s_al, src_map,
                    set(t_cols), insert_ctx=False, key_cols=on_lower,
                    by_source_ctx=by_source,
                )
            return sets

        def _parse_insert_sets(body):
            if body in ("", "*"):
                return {}  # same-named source cols, then defaults
            ms = re.match(
                r"^\(([^)]*)\)\s*VALUES\s*\((.*)\)$", body, re.I | re.S
            )
            if not ms:
                raise LakeSQLError(
                    "INSERT clause must be *, empty, or "
                    "(cols) VALUES (exprs)"
                )
            cols = [c.strip() for c in ms.group(1).split(",")]
            exprs = _split_top(ms.group(2))
            if len(cols) != len(exprs):
                raise LakeSQLError(
                    f"INSERT column list has {len(cols)} names, "
                    f"VALUES has {len(exprs)} expressions"
                )
            sets = {}
            for c, e in zip(cols, exprs):
                cl = c.lower()
                if cl not in t_cols:
                    raise LakeSQLError(
                        f"unknown target column {c!r} in INSERT"
                    )
                sets[t_cols[cl]] = self._rewrite_merge_expr(
                    e.strip(), t_al, s_al, src_map,
                    set(t_cols), insert_ctx=True, key_cols=on_lower,
                )
            return sets

        matched_cls, not_matched_cls, by_source_cls = [], [], []
        cpos = _merge_when_positions(clauses_text)
        clauses = [
            clauses_text[p + len("WHEN") : q].strip()
            for p, q in zip(cpos, cpos[1:] + [len(clauses_text)])
        ]
        for clause in clauses:
            if not clause:
                continue
            mm = re.match(
                r"^(NOT\s+)?MATCHED(\s+BY\s+(SOURCE|TARGET))?\b(.*)$",
                clause,
                re.I | re.S,
            )
            if not mm:
                raise LakeSQLError(f"bad MERGE WHEN clause: WHEN {clause!r}")
            is_not, by_word, rest2 = (
                bool(mm.group(1)),
                (mm.group(3) or "").upper(),
                mm.group(4),
            )
            if by_word and not is_not:
                raise LakeSQLError(
                    "BY SOURCE / BY TARGET applies to WHEN NOT MATCHED "
                    "clauses only"
                )
            is_by_source = is_not and by_word == "SOURCE"
            # the clause's own THEN is a top-level THEN followed by an
            # action verb whose PRECEDING text has balanced CASE/END
            # pairs: a CASE ... THEN inside the AND-condition leaves an
            # open CASE before it, and a 'THEN <column named update>'
            # inside a SET-body CASE comes after the real anchor — pick
            # the first balanced candidate
            tpos = [
                p
                for p in _top_keyword_positions(rest2, "THEN")
                if re.match(
                    r"THEN\s+(UPDATE|DELETE|INSERT)\b", rest2[p:], re.I
                )
            ]
            if not tpos:
                raise LakeSQLError(
                    f"MERGE WHEN clause needs THEN "
                    f"UPDATE/DELETE/INSERT: WHEN {clause!r}"
                )
            p = next(
                (
                    q
                    for q in tpos
                    if len(_top_keyword_positions(rest2[:q], "CASE"))
                    == len(_top_keyword_positions(rest2[:q], "END"))
                ),
                tpos[-1],
            )
            cond_txt = rest2[:p].strip()
            action_txt = rest2[p + len("THEN") :].strip()
            cond = None
            if cond_txt:
                ma = re.match(r"^AND\s+(.*)$", cond_txt, re.I | re.S)
                if not ma:
                    raise LakeSQLError(
                        f"bad MERGE clause condition (expected AND "
                        f"<predicate>): {cond_txt!r}"
                    )
                # a NOT MATCHED condition sees only the source row; a
                # BY SOURCE condition sees only the target row
                cond = self._rewrite_merge_expr(
                    ma.group(1).strip(), t_al, s_al, src_map,
                    set(t_cols),
                    insert_ctx=is_not and not is_by_source,
                    key_cols=on_lower,
                    by_source_ctx=is_by_source,
                )
            if is_by_source:
                if re.fullmatch(r"DELETE", action_txt, re.I):
                    by_source_cls.append({"cond": cond, "action": "delete"})
                else:
                    mu = re.match(
                        r"^UPDATE\s+SET\s+(.*)$", action_txt, re.I | re.S
                    )
                    if not mu:
                        raise LakeSQLError(
                            "WHEN NOT MATCHED BY SOURCE supports "
                            "UPDATE SET ... or DELETE"
                        )
                    by_source_cls.append({
                        "cond": cond,
                        "action": "update",
                        "sets": _parse_update_sets(
                            mu.group(1).strip(), by_source=True
                        ),
                    })
            elif is_not:
                mi = re.match(r"^INSERT\s*(.*)$", action_txt, re.I | re.S)
                if not mi:
                    raise LakeSQLError(
                        "WHEN NOT MATCHED supports only INSERT"
                    )
                not_matched_cls.append(
                    {"cond": cond, "sets": _parse_insert_sets(mi.group(1).strip())}
                )
            elif re.fullmatch(r"DELETE", action_txt, re.I):
                matched_cls.append({"cond": cond, "action": "delete"})
            else:
                mu = re.match(
                    r"^UPDATE\s+SET\s+(.*)$", action_txt, re.I | re.S
                )
                if not mu:
                    raise LakeSQLError(
                        "WHEN MATCHED supports UPDATE SET ... or DELETE"
                    )
                matched_cls.append({
                    "cond": cond,
                    "action": "update",
                    "sets": _parse_update_sets(mu.group(1).strip()),
                })
        if not matched_cls and not not_matched_cls and not by_source_cls:
            raise LakeSQLError("MERGE requires at least one WHEN clause")

        simple = (
            len(matched_cls) <= 1
            and len(not_matched_cls) <= 1
            and not by_source_cls
            and all(
                c["cond"] is None for c in matched_cls + not_matched_cls
            )
        )
        n = [0]

        def op(tx):
            if simple:
                m0 = matched_cls[0] if matched_cls else None
                r = tx.merge(
                    target, src_df, on=on,
                    when_matched=m0["action"] if m0 else "skip",
                    when_not_matched=(
                        "insert" if not_matched_cls else "skip"
                    ),
                    update_sets=(
                        m0["sets"] if m0 and m0["action"] == "update"
                        else None
                    ),
                    insert_sets=(
                        not_matched_cls[0]["sets"]
                        if not_matched_cls else None
                    ),
                    sequence_col=seq_engine,
                    auto_merge_schema=evolve,
                )
            else:
                r = tx.merge(
                    target, src_df, on=on,
                    matched_clauses=matched_cls or None,
                    not_matched_clauses=not_matched_cls or None,
                    not_matched_by_source_clauses=by_source_cls or None,
                    sequence_col=seq_engine,
                    auto_merge_schema=evolve,
                )
            # matched rows only count as affected when a matched clause
            # ACTS on them: 'acted' (clausal merges) excludes matched rows
            # whose every clause condition was false; insert-only merges
            # report inserts; by-source merges report the rows a by-source
            # clause fired on
            n[0] = (
                (r.get("acted", r["matched"]) if matched_cls else 0)
                + r["inserted"]
                + r.get("acted_by_source", 0)
            )

        dex._run(op)
        return n[0]

    # SQL keywords never rewritten as bare column references: a source
    # column named 'end' or 'then' must be alias-qualified (s.end) to be
    # referenced — rewriting the bare keyword would corrupt CASE/interval
    # expressions that legitimately contain these words
    _SQL_KEYWORDS = frozenset(
        "case when then else end and or not in is null true false "
        "between like ilike rlike distinct cast interval as div exists "
        "all any some asc desc nulls first last over escape".split()
    )

    def _rewrite_merge_expr(
        self, expr, t_al, s_al, src_map, t_cols, insert_ctx,
        key_cols=frozenset(), by_source_ctx=False,
    ) -> str:
        """Rewrite alias-qualified references in one MERGE SET/VALUES
        expression to the engine contract (target plain, source
        ``__s_<col>``), over the shared quote-aware identifier scanner
        (rollup.scan_sql_identifiers — function names pass through).
        An unqualified name present on BOTH sides is an ambiguity error
        (standard-engine behavior — a ported statement must never silently
        compute from the wrong side), EXCEPT the merge key columns, whose
        two sides are provably equal on every matched row; SQL keywords
        never rewrite bare. In INSERT VALUES no target row is in scope:
        target-qualified refs are a clean parse-time error and unqualified
        source names always rewrite. In a BY SOURCE clause
        (``by_source_ctx``) no SOURCE row is in scope: source references
        (qualified or bare) are a clean parse-time error and unqualified
        names resolve to the target without ambiguity."""
        from .rollup import scan_sql_identifiers

        out, prev = [], 0
        for start, end, name, qual in scan_sql_identifiers(
            expr, with_qualifiers=True
        ):
            ql, cl = (qual or "").lower(), name.lower()
            rep = None
            if qual is not None and ql == t_al:
                if insert_ctx:
                    raise LakeSQLError(
                        f"target column reference {qual}.{name} is not in "
                        "scope in a MERGE INSERT VALUES clause (no target "
                        "row exists for an unmatched source row)"
                    )
                if cl not in t_cols:
                    raise LakeSQLError(
                        f"unknown target column {name!r} in MERGE expression"
                    )
                rep = name
            elif qual is not None and s_al and ql == s_al:
                if by_source_ctx:
                    raise LakeSQLError(
                        f"source column reference {qual}.{name} is not "
                        "in scope in a WHEN NOT MATCHED BY SOURCE clause "
                        "(no source row exists for an unmatched target "
                        "row)"
                    )
                if cl not in src_map:
                    raise LakeSQLError(
                        f"unknown source column {name!r} in MERGE expression"
                    )
                rep = src_map[cl]
            elif qual is None and cl not in self._SQL_KEYWORDS:
                if by_source_ctx:
                    if cl in src_map and cl not in t_cols:
                        raise LakeSQLError(
                            f"source column {name!r} is not in scope in "
                            "a WHEN NOT MATCHED BY SOURCE clause"
                        )
                    # target-only scope: bare names resolve to the target
                elif cl in src_map and (insert_ctx or cl not in t_cols):
                    rep = src_map[cl]
                elif (
                    cl in src_map and cl in t_cols and cl not in key_cols
                ):
                    raise LakeSQLError(
                        f"column reference {name!r} is ambiguous in a "
                        "MERGE expression (present on both target and "
                        "source) — qualify it with an alias"
                    )
            if rep is not None:
                out.append(expr[prev:start])
                out.append(rep)
                prev = end
        out.append(expr[prev:])
        return "".join(out)

    # -- CALL-style maintenance (DuckLake ships these as SQL surface) ----
    def _rows_arg(self, tok, what):
        """A statement argument naming rows: a lake table/view name or a
        parenthesized subquery, evaluated through the same read face as
        every other statement (shared by the CALL verbs and COPY)."""
        t = tok.strip()
        if t.startswith("("):
            return self._query(_unwrap_parens(t))
        if re.fullmatch(_IDENT, t):
            return self._query(f"SELECT * FROM {t}")
        raise LakeSQLError(
            f"{what} must be a table name or (subquery); got {tok!r}"
        )

    def _external_df(
        self, path: str, fmt: str, header, delim: str, quote: str = '"',
        columns=None,
    ):
        """Read an external parquet/csv file, part-file directory, or
        glob. ``columns`` ({name: ddl_type}) declares the csv schema
        outright (inference off; header defaults to ABSENT then, like
        DuckDB's read_csv with columns). Otherwise ``header=None``
        triggers the DuckDB-style sniff: read WITHOUT a header first —
        any non-string inferred column means the first record is DATA (a
        header line would have forced every column to string). All-string
        columns are ambiguous; the first record is then compared against
        sampled data rows — an empty or duplicated first-row value, or a
        first-row value that reappears in its own column's data, marks it
        DATA; otherwise a header is assumed and a warning points at the
        explicit ``header``/``columns`` overrides."""
        if fmt == "parquet":
            return self.c.spark.read.parquet(path)
        rd = self.c.spark.read.option("sep", delim).option("quote", quote)
        if columns:
            ddl = ", ".join(f"`{n}` {t}" for n, t in columns.items())
            return (
                rd.schema(ddl)
                .option("header", str(bool(header)).lower())
                .csv(path)
            )
        rd = rd.option("inferSchema", "true")
        if header is None:
            nohdr = rd.option("header", "false").csv(path)
            if any(t != "string" for _c, t in nohdr.dtypes):
                header = False
            else:
                header = self._sniff_header_all_text(nohdr, path)
        return rd.option("header", str(bool(header)).lower()).csv(path)

    @staticmethod
    def _sniff_header_all_text(nohdr, path: str) -> bool:
        """Header-vs-data call for the ambiguous all-text csv: column
        names are unique, non-empty, and don't normally recur as their
        own column's values — any counter-signal from a bounded sample
        marks the first record as DATA. A True verdict warns visibly: a
        headerless all-text file would silently lose its first row."""
        sample = nohdr.limit(101).collect()
        if not sample:
            return False
        first, rest = sample[0], sample[1:]
        vals = [first[c] for c in nohdr.columns]
        if any(v is None or str(v).strip() == "" for v in vals):
            return False  # header names are never empty
        if len({str(v) for v in vals}) != len(vals):
            return False  # header names are unique
        for c in nohdr.columns:
            if any(r[c] == first[c] for r in rest):
                return False  # 'name' reappearing as a value => data
        import warnings

        warnings.warn(
            f"read_csv: assuming the first record of {path!r} is a "
            "header (all columns are text); pass header => false or "
            "columns => {...} if it is data",
            stacklevel=2,
        )
        return True

    def _copy_from_stmt(self, m, dex):
        """``COPY t FROM '<path>' [(FORMAT PARQUET|CSV [, HEADER
        true|false] [, DELIMITER 'c'])]`` — DuckDB's file-ingestion verb:
        read the external file(s) and INSERT them through the normal
        transactional write path (columns aligned by name, missing ones
        defaulted, unknown ones refused — the insert contract). Unlike
        COPY TO, this IS transactional (it's an insert), so it composes
        with BEGIN/ROLLBACK; csv header auto-detection as in
        :meth:`_external_df`."""
        path, opts_text = m["path"].replace("''", "'"), m["opts"]
        fmt, header, delim, quote, columns = None, None, ",", '"', None
        for item in _split_top(opts_text) if opts_text else []:
            mm = re.match(r"^([A-Za-z_]+)\s*(.*)$", item.strip(), re.S)
            if not mm:
                raise LakeSQLError(f"bad COPY option {item!r}")
            k, raw = mm.group(1).lower(), mm.group(2).strip()
            v = raw.strip("'")
            if k == "format":
                fmt = v.lower()
                if fmt not in ("parquet", "csv"):
                    raise LakeSQLError(
                        f"unsupported COPY format {v!r} (parquet/csv)"
                    )
            elif k == "header":
                header = v.lower() != "false"
            elif k in ("delimiter", "delim", "sep"):
                delim = v
            elif k == "quote":
                quote = v
            elif k in ("columns", "types"):
                # mis-sniffed header/type recovery without leaving SQL:
                # same struct grammar as read_csv's columns argument
                columns = self._parse_csv_columns(raw)
            else:
                raise LakeSQLError(f"unknown COPY FROM option {k!r}")
        if fmt is None:
            fmt = "csv" if path.lower().endswith(".csv") else "parquet"
        df = self._external_df(
            path, fmt, header, delim, quote=quote, columns=columns
        )
        return self._run(lambda tx: tx.insert(m["name"], df))

    def _copy_stmt(self, m, dex):
        """``COPY <table|(subquery)> TO '<path>' [(FORMAT PARQUET|CSV
        [, HEADER true|false] [, DELIMITER 'c'] [, OVERWRITE]
        [, PARTITION_BY (cols)])]`` — DuckDB's result-export verb over
        Spark's writers; PARTITION_BY produces DuckDB's hive-partitioned
        tree (``col=value/`` directories, each partition written by its
        own tasks).

        Two output shapes, chosen by the path:
        * ``*.parquet`` / ``*.csv`` — ONE file, DuckDB parity: the frame is
          coalesced to a single writer task (serializes the write — the
          small-export convenience form; existing file replaced, like
          DuckDB). Written to a temp dir next to the target, then moved,
          so a crash never leaves a half-written target.
        * anything else — a DIRECTORY of part files via the native
          distributed write (the 100-TB path: every task writes its own
          file). Refuses to clobber an existing directory unless
          OVERWRITE is given.
        """
        import glob as _glob
        import os
        import shutil
        import uuid as _uuid

        path, opts_text = m["path"].replace("''", "'"), m["opts"]
        df = self._rows_arg(m["src"], "COPY source")
        fmt, header, delim, overwrite = None, None, ",", False
        partition_by = []
        for item in _split_top(opts_text) if opts_text else []:
            mm = re.match(
                r"^([A-Za-z_]+)\s*(.*)$", item.strip(), re.S
            )
            if not mm:
                raise LakeSQLError(f"bad COPY option {item!r}")
            k, v = mm.group(1).lower(), mm.group(2).strip().strip("'")
            if k == "partition_by":
                # DuckDB's hive-partitioned export: one value-directory
                # tree, each partition written by its own tasks — the
                # native distributed layout for downstream pruning
                partition_by = [
                    c.strip().strip("'\"")
                    for c in _split_top(_unwrap_parens(v.strip()))
                ]
                missing = [c for c in partition_by if c not in df.columns]
                if missing:
                    raise LakeSQLError(
                        f"PARTITION_BY column(s) {missing} not in the "
                        "COPY source"
                    )
                continue
            if k == "format":
                fmt = v.lower()
                if fmt not in ("parquet", "csv"):
                    raise LakeSQLError(
                        f"unsupported COPY format {v!r} (parquet/csv)"
                    )
            elif k == "header":
                header = v.lower() != "false"
            elif k == "delimiter" or k == "delim" or k == "sep":
                delim = v
            elif k == "overwrite":
                overwrite = v == "" or v.lower() != "false"
            else:
                raise LakeSQLError(f"unknown COPY option {k!r}")
        low = path.lower()
        if fmt is None:
            fmt = "csv" if low.endswith(".csv") else "parquet"
        single = low.endswith(".parquet") or low.endswith(".csv")
        if partition_by and single:
            raise LakeSQLError(
                "PARTITION_BY writes a directory tree; the target must "
                "not be a single *.parquet/*.csv file"
            )
        # target checks BEFORE any job runs (a clobber refusal must not
        # cost a source scan)
        if single and os.path.isdir(path):
            raise LakeSQLError(
                f"single-file COPY target {path!r} is a DIRECTORY "
                "(remove it, or use a directory-form path without the "
                ".parquet/.csv suffix)"
            )
        if not single and os.path.exists(path) and not overwrite:
            raise LakeSQLError(
                f"COPY target {path!r} exists (pass OVERWRITE to "
                "replace the directory)"
            )
        write_header = fmt == "csv" and header is not False

        def _write(target, frame):
            w = frame.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            if fmt == "csv":
                # DuckDB writes a header line by default; Spark doesn't
                w = w.option("header", str(write_header).lower())
                w = w.option("sep", delim)
            getattr(w, fmt)(target)

        def _rows_written(files):
            """Row count FROM the written files (parquet footers / csv
            line counts) — never a second execution of the source query:
            the export runs ONE job, the count is pure metadata/local IO,
            and a non-deterministic source can't make the reported count
            disagree with what landed."""
            total = 0
            for p in files:
                if fmt == "parquet":
                    import pyarrow.parquet as pq

                    total += pq.ParquetFile(p).metadata.num_rows
                else:
                    # quote-aware record count: embedded newlines inside
                    # quoted string values must not inflate the reported
                    # row count (raw b'\n' counting did). Arrow's csv
                    # reader when it parses cleanly, stdlib csv otherwise.
                    hdr = 1 if write_header else 0
                    try:
                        import pyarrow.csv as _pacsv

                        total += max(0, _pacsv.read_csv(
                            p,
                            read_options=_pacsv.ReadOptions(
                                autogenerate_column_names=True
                            ),
                            parse_options=_pacsv.ParseOptions(
                                delimiter=delim, newlines_in_values=True
                            ),
                        ).num_rows - hdr)
                    except Exception:
                        import csv as _csv

                        with open(
                            p, newline="", encoding="utf-8",
                            errors="replace",
                        ) as fh:
                            nrec = sum(
                                1 for _ in _csv.reader(fh, delimiter=delim)
                            )
                        total += max(0, nrec - hdr)
            return total

        if single:
            parent = os.path.dirname(os.path.abspath(path)) or "."
            tmp = os.path.join(
                parent, f".__copy_tmp_{_uuid.uuid4().hex[:12]}"
            )
            try:
                _write(tmp, df.coalesce(1))
                parts = sorted(_glob.glob(os.path.join(tmp, "part-*")))
                if len(parts) != 1:
                    raise LakeSQLError(
                        f"single-file COPY produced {len(parts)} parts"
                    )
                n = _rows_written(parts)
                shutil.move(parts[0], path)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
        else:
            _write(path, df)
            pattern = (
                "/".join(["*"] * len(partition_by)) + "/part-*"
                if partition_by
                else "part-*"
            )
            n = _rows_written(
                sorted(_glob.glob(os.path.join(path, pattern)))
            )
        return n

    def _call_stmt(self, m, dex):
        """``CALL expire_snapshots(...)`` / ``CALL compact(t [, bytes])`` /
        ``CALL flush_inlined(t)`` / ``CALL gc([min_age_seconds])`` —
        SQL verbs over the existing maintenance engines (catalog.py), so a
        SQL-first maintenance job never needs the Python API. DuckLake
        spellings accepted: ducklake_expire_snapshots,
        ducklake_merge_adjacent_files (-> compact),
        ducklake_cleanup_old_files (-> gc)."""
        fn, argstext = m["fn"], m["args"]
        f = fn.lower()
        if f.startswith("ducklake_"):
            f = f[len("ducklake_") :]
        f = {"merge_adjacent_files": "compact", "cleanup_old_files": "gc"}.get(
            f, f
        )
        pos, named = [], {}
        for a in _split_top(argstext) if argstext.strip() else []:
            mm = re.match(rf"^({_IDENT})\s*=>\s*(.+)$", a.strip(), re.S)
            if mm:
                named[mm.group(1).lower()] = mm.group(2).strip()
            else:
                pos.append(a.strip())

        def _val(tok):
            t = tok.strip()
            if t.startswith("'") and t.endswith("'"):
                return t[1:-1].replace("''", "'")
            if t.lower() in ("true", "false"):
                return t.lower() == "true"
            if re.fullmatch(_IDENT, t):
                return t  # bare identifier = table name
            try:
                return int(t)
            except ValueError:
                try:
                    return float(t)
                except ValueError:
                    raise LakeSQLError(f"bad CALL argument {tok!r}")

        _df_arg = self._rows_arg

        def _qual(tok):
            """``att.t`` (bare or quoted) -> (catalog, table); (None,
            None) when the token is undotted. A QUOTED dotted token only
            splits when its prefix resolves to a catalog: ``CALL
            compact('a.b')`` on a table literally named ``a.b`` is a table
            lookup, not a routing error (r14 ADVICE — bare ``att.t`` is
            unambiguous SQL qualification and always splits)."""
            t = tok.strip()
            quoted = t.startswith("'") and t.endswith("'")
            if quoted:
                t = t[1:-1].replace("''", "'")
            mm = re.fullmatch(rf"({_IDENT})\s*\.\s*({_IDENT})", t)
            if mm is None or quoted and self._resolve(mm.group(1)) is None:
                return (None, None)
            return mm.groups()

        # Qualified targets: table-level verbs take <att>.<t> as their
        # first argument, catalog-level verbs take catalog => 'att', the
        # vector-index verbs either (r13 verdict task 4, r14 task 3). A
        # target in another catalog re-issues this CALL against that
        # catalog's own engine, where its operands resolve — no USE round
        # trips. probe_vector_index is the one pure read: allowed against
        # READ_ONLY catalogs; every other procedure is a write, also when
        # unqualified (a READ_ONLY default refuses it).
        vector = f in (
            "build_vector_index", "extend_vector_index",
            "remove_vectors", "probe_vector_index",
        )
        cat = None
        if "catalog" in named and (vector or f in ("expire_snapshots", "gc")):
            cat = str(_val(named.pop("catalog")))
        elif pos and (vector or f in ("compact", "optimize", "flush_inlined")):
            cat, tbl = _qual(pos[0])
            if cat is not None:
                pos[0] = "'" + tbl.replace("'", "''") + "'"
        dex = self._resolve(cat, write=f != "probe_vector_index")
        if dex is None:
            raise LakeSQLError(f"no attached catalog named {cat!r}")
        if dex is not self:
            args = pos + [f"{k} => {v}" for k, v in named.items()]
            return dex._dispatch(f"CALL {f}({', '.join(args)})")

        if f == "expire_snapshots":
            kw = {}
            for k, v in named.items():
                key = {"older_than": "before_timestamp"}.get(k, k)
                if key not in (
                    "before_version", "before_timestamp", "keep_last"
                ):
                    raise LakeSQLError(f"unknown expire_snapshots arg {k!r}")
                kw[key] = _val(v)
            if pos:
                raise LakeSQLError(
                    "expire_snapshots takes named arguments only "
                    "(before_version => n | before_timestamp => 'ts' | "
                    "keep_last => n)"
                )
            r = self.c.expire_snapshots(**kw)
            return self.c.spark.createDataFrame(
                [tuple(int(r[k]) for k in sorted(r))],
                ", ".join(f"{k} bigint" for k in sorted(r)),
            )
        if f == "compact":
            args = [_val(v) for v in pos]
            if not args:
                raise LakeSQLError("compact(table [, target_file_bytes])")
            tfb = named.get("target_file_bytes")
            if tfb is not None:
                args.append(_val(tfb))
            self.c.compact(*args[:2])
            return self._status("CALL compact", 0)
        if f == "optimize":
            # Delta's OPTIMIZE ... ZORDER BY as a maintenance verb:
            # CALL optimize('t' [, zorder_by => 'a,b']
            #               [, target_file_bytes => n])
            # zorder_by omitted = re-cluster on the table's PERSISTED spec
            # (optimize records explicit columns in the schema, so compact
            # and later bare optimize calls keep the clustering)
            if len(pos) != 1:
                raise LakeSQLError(
                    "optimize(table [, zorder_by => 'col[,col...]'] "
                    "[, target_file_bytes => n])"
                )
            kw = {}
            if "zorder_by" in named:
                kw["zorder_by"] = _val(named["zorder_by"])
            if "target_file_bytes" in named:
                kw["target_file_bytes"] = _val(named["target_file_bytes"])
            self.c.optimize(_val(pos[0]), **kw)
            return self._status("CALL optimize", 0)
        if f == "flush_inlined":
            if len(pos) != 1:
                raise LakeSQLError("flush_inlined(table)")
            self.c.flush_inlined(_val(pos[0]))
            return self._status("CALL flush_inlined", 0)
        if f in ("add_retention_policy", "apply_retention"):
            # bucket expiry on a time-bucketed rollup (TimescaleDB's
            # add_retention_policy idea as an explicit one-shot verb):
            # expire + record the horizon in ONE catalog txn; AT(VERSION)
            # reads keep the archive, refreshes can't resurrect (rollup.py)
            from .rollup import apply_retention

            if len(pos) != 1 or "drop_before" not in named:
                raise LakeSQLError(
                    "add_retention_policy(mv, drop_before => 'timestamp')"
                )
            if not self._mv_exists(_val(pos[0])):
                raise LakeSQLError(
                    f"no materialized view named {pos[0]!r}"
                )
            n = apply_retention(
                self.c, _val(pos[0]), str(_val(named["drop_before"]))
            )
            self._mv_cols.pop(_val(pos[0]), None)  # meta changed: drop cache
            return self._status("CALL add_retention_policy", n)
        if f == "gc":
            age = named.get("min_age_seconds") or (pos[0] if pos else None)
            removed = self.c.gc(
                **({"min_age_seconds": float(_val(age))} if age else {})
            )
            return self._status("CALL gc", len(removed))
        if vector:
            # X15 lifecycle as SQL verbs — same engines as the Python API
            # (ducktales_spark/vector_index.py); probe returns its result
            # set like a table function
            from .. import vector_index as _vx

            if not pos:
                raise LakeSQLError(f"{f} needs an index name")
            idx = _val(pos[0])
            if not isinstance(idx, str):
                raise LakeSQLError(f"{f}: bad index name {pos[0]!r}")
            if f == "build_vector_index":
                if len(pos) != 2:
                    raise LakeSQLError(
                        "build_vector_index(index, source_table|(subquery)"
                        " [, n_centroids => n, refine_iterations => n, "
                        "quantize => true|false])"
                    )
                kw = {}
                for k, v in named.items():
                    if k not in (
                        "n_centroids", "refine_iterations",
                        "coarse_threshold", "quantize",
                    ):
                        raise LakeSQLError(
                            f"unknown build_vector_index arg {k!r}"
                        )
                    kw[k] = _val(v)
                n_cent = _vx.build_vector_index(
                    self.c, idx, _df_arg(pos[1], "source"), **kw
                )
                return self._status("CALL build_vector_index", int(n_cent))
            if f == "extend_vector_index":
                if len(pos) != 2:
                    raise LakeSQLError(
                        "extend_vector_index(index, source_table|(subquery)"
                        " [, route_width => n])"
                    )
                kw = {}
                for k, v in named.items():
                    if k != "route_width":
                        raise LakeSQLError(
                            f"unknown extend_vector_index arg {k!r}"
                        )
                    kw[k] = _val(v)
                _vx.extend_vector_index(
                    self.c, idx, _df_arg(pos[1], "source"), **kw
                )
                return self._status("CALL extend_vector_index", 0)
            if f == "remove_vectors":
                if len(pos) != 2:
                    raise LakeSQLError(
                        "remove_vectors(index, ids_table|(subquery))"
                    )
                n = _vx.remove_vectors(
                    self.c, idx, _df_arg(pos[1], "ids")
                )
                return self._status("CALL remove_vectors", int(n))
            # probe_vector_index: queries are driver-small by the probe's
            # own contract (|Q| x k result pairs), so toPandas here is the
            # documented bounded collect, not a scale leak
            if len(pos) != 2:
                raise LakeSQLError(
                    "probe_vector_index(index, queries_table|(subquery)"
                    " [, k => n, nprobe => n])"
                )
            kw = {}
            for k, v in named.items():
                if k not in ("k", "nprobe", "coarse_nprobe", "version"):
                    raise LakeSQLError(
                        f"unknown probe_vector_index arg {k!r}"
                    )
                kw[k] = _val(v)
            qdf = _df_arg(pos[1], "queries").toPandas()
            return _vx.probe_vector_index(self.c, idx, qdf, **kw)
        raise LakeSQLError(f"unknown procedure {fn!r}")

    def _mv_exists(self, name: str) -> bool:
        from .rollup import _meta_name

        ts = set(self.c.tables())
        return name in ts and _meta_name(name) in ts

    def _no_txn(self, stmt: str) -> None:
        if self._tx is not None:
            raise LakeSQLError(
                f"{stmt} cannot run inside an explicit transaction: it "
                "commits catalog snapshots of its own (same restriction "
                "as the reference's ducklake DDL-in-txn limits)"
            )

    def _mv_guard_deterministic(
        self, text: str, src: str, what: str, extra_cols=()
    ):
        """Refuse subqueries and non-deterministic / time-dependent names
        in a maintained MV expression (WHERE predicate or expression key):
        the value is computed ONCE, at the refresh that sees a row's diff
        — now()/rand() would make create, each refresh, and a recompute
        all disagree (TimescaleDB restricts cagg expressions to immutable
        functions the same way). ``extra_cols`` names additional
        legitimate column references beyond the source schema (HAVING
        sees the READ FACE, so an expression-key alias named 'today' or
        'random' resolves as a deterministic column there)."""
        stripped = strip_sql_literals(text)
        idents = {
            t.lower()
            for t in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", stripped)
        }
        if "select" in idents:
            raise LakeSQLError(
                f"materialized-view {what} cannot contain subqueries: "
                "it must be decidable per source row for incremental "
                "maintenance"
            )
        nondet = set(idents & self._MV_NONDETERMINISTIC)
        # a legitimate source COLUMN named 'user'/'today'/'random'
        # resolves as a deterministic column reference — excuse it
        # unless (a) it's an ANSI niladic keyword (parses as the
        # function even when a column shadows it) or (b) the text
        # also CALLS it as a function
        src_cols = (
            {f.name.lower() for f in self._schema_of(src).fields}
            if self._table_exists(src)
            else set()
        )
        src_cols |= {c.lower() for c in extra_cols}
        niladic = {
            "current_timestamp", "current_date", "current_time",
            "localtimestamp",
        }
        for nm in sorted((nondet & src_cols) - niladic):
            if not re.search(rf"\b{nm}\s*\(", stripped, re.I):
                nondet.discard(nm)
        if nondet:
            raise LakeSQLError(
                f"materialized-view {what} must be deterministic "
                f"and row-local; {sorted(nondet)} would make the "
                "incrementally-maintained state diverge from a "
                "recompute (rows are judged once, at the refresh "
                "that sees their diff)"
            )

    # aggregate function names refused inside an expression KEY (an
    # aggregate belongs in the select's agg items, not a group key)
    _MV_AGG_NAMES = frozenset(
        "count sum avg min max approx_count_distinct hll_sketch_agg "
        "collect_list collect_set stddev stddev_pop stddev_samp variance "
        "var_pop var_samp percentile percentile_approx median first last "
        "any_value".split()
    )

    def _parse_mv_select(self, body: str) -> dict:
        """Parse the incrementally-maintainable aggregate-SELECT subset:
        ``SELECT <keys...>, [time_bucket(INTERVAL '1 hour', ts),]
        COUNT(*)/COUNT([DISTINCT] col)/APPROX_COUNT_DISTINCT(col)/
        SUM/AVG/MIN/MAX/STDDEV/VARIANCE(col)... FROM <lake table> [WHERE
        <pred over source columns, no subqueries>] GROUP BY ... [HAVING
        <pred over the selected aggregates/keys>]`` — no JOIN (the same
        restriction TimescaleDB continuous aggregates and Materialize
        place on their incremental paths). The WHERE is maintainable
        because CDC diff rows carry the predicate columns (the reference's
        own summary view filters rows, demos/03_schema_evolution/
        demo.py:273-288); the HAVING is a READ-TIME group filter over the
        maintained face, so state for a group that dips below the
        threshold is never lost. Reads go through
        :func:`~ducktales_spark.lake.rollup.read_rollup`, so ``avg_<c>``
        needs no hand-dividing and ``approx_distinct_<c>`` reads as the
        HLL estimate, never raw sketch bytes.

        Output columns use the rollup tier's canonical names (bucket_start,
        <keys>, n_rows, sum_<c>/avg_<c>/min_<c>/max_<c>); an explicit alias
        is accepted only when it matches the canonical name — arbitrary
        renames would break the REFRESH machinery's stored-state contract,
        the same reason TimescaleDB restricts cagg definitions."""
        bad_shape = LakeSQLError(
            "CREATE MATERIALIZED VIEW supports only the maintainable "
            "subset: SELECT <keys...>, [time_bucket(...),] "
            "COUNT(*)/COUNT([DISTINCT] col)/APPROX_COUNT_DISTINCT(col)/"
            "SUM/AVG/MIN/MAX/STDDEV/VARIANCE(col)... FROM <lake table> "
            "[WHERE <pred over source columns>] [GROUP BY ...] "
            "[HAVING <pred over the selected aggregates/keys>] — "
            "no JOIN/subqueries"
        )
        m = re.match(
            rf"^SELECT\s+(.*?)\s+FROM\s+({_IDENT})\b(.*)$",
            body.strip(),
            re.I | re.S,
        )
        if not m:
            raise bad_shape
        items, src, tail = m.group(1), m.group(2), m.group(3)
        where, gb, having = None, None, None
        tail = tail.strip()
        if tail:
            gidx = None
            for p in _top_keyword_positions(tail, "GROUP"):
                if re.match(r"GROUP\s+BY\b", tail[p:], re.I):
                    gidx = p
                    break
            head = (tail if gidx is None else tail[:gidx]).strip()
            if gidx is not None:
                gb = re.sub(
                    r"^GROUP\s+BY\s+", "", tail[gidx:], flags=re.I | re.S
                ).strip()
                hpos = _top_keyword_positions(gb, "HAVING")
                if hpos:
                    having = gb[hpos[0] + len("HAVING"):].strip()
                    gb = gb[: hpos[0]].strip()
            elif head:
                # HAVING with no GROUP BY (global-aggregate MV)
                hpos = _top_keyword_positions(head, "HAVING")
                if hpos:
                    having = head[hpos[0] + len("HAVING"):].strip()
                    head = head[: hpos[0]].strip()
            if having == "":
                raise LakeSQLError("HAVING requires a predicate")
            if head:
                mw = re.match(r"^WHERE\s+(.*)$", head, re.I | re.S)
                if not mw:
                    raise bad_shape
                where = mw.group(1).strip()
                # scan the literal-stripped text: subqueries and
                # non-deterministic/time-dependent functions both break
                # the incremental==recompute invariant (a row's predicate
                # verdict is judged ONCE, at the refresh that sees its
                # diff — now()/rand() would make create, each refresh,
                # and a recompute all disagree; TimescaleDB restricts
                # cagg predicates to immutable functions the same way)
                self._mv_guard_deterministic(where, src, "WHERE")
        keys, key_exprs, sum_cols, minmax_cols = [], {}, [], []
        count_cols, approx_cols, distinct_cols, var_cols = [], [], [], []
        time_col, bucket_s, bucket_alias, bucket_expr = None, 3600, None, None
        has_bucket = False

        def _check_alias(alias, canonical):
            if alias is not None and alias.lower() != canonical.lower():
                raise LakeSQLError(
                    f"materialized-view column must be named {canonical!r} "
                    f"(got alias {alias!r}): stored rollup state uses "
                    "canonical names"
                )

        parsed = []  # per select item: ("key", name) | ("bucket",) | ("agg",)
        for item in _split_top(items):
            item = item.strip()
            if re.fullmatch(_IDENT, item):
                if item.lower() in {k.lower() for k in keys}:
                    # clean pre-transaction error (a duplicate — plain or
                    # colliding with an expression-key alias — would die
                    # as AMBIGUOUS_REFERENCE inside create_rollup's CTAS)
                    raise LakeSQLError(f"duplicate key column {item!r}")
                keys.append(item)
                parsed.append(("key", item))
                continue
            mb = self._MV_BUCKET.match(item)
            if mb:
                if has_bucket:
                    raise LakeSQLError("only one time_bucket(...) allowed")
                has_bucket = True
                n = int(mb.group(1) or mb.group(3))
                unit = (mb.group(2) or "second").lower().rstrip("s")
                bucket_s = n * self._MV_UNITS[unit]
                time_col = mb.group(4)
                bucket_alias = mb.group(5)
                _check_alias(bucket_alias, "bucket_start")
                bucket_expr = re.sub(
                    r"\s+",
                    " ",
                    re.sub(
                        rf"\s+AS\s+{_IDENT}\s*$", "", item, flags=re.I
                    ),
                ).lower()
                parsed.append(("bucket",))
                continue
            ma = self._MV_AGG.match(item)
            if ma:
                fn, is_distinct, arg, alias = (
                    ma.group(1).upper(),
                    bool(ma.group(2)),
                    ma.group(3),
                    ma.group(4),
                )
                if arg == "*" and (fn != "COUNT" or is_distinct):
                    # catch SUM(*) / COUNT(DISTINCT *) here with a clear
                    # error instead of letting '*' reach the column
                    # validation ("column '*' not found") or create_rollup's
                    # CTAS (opaque AnalysisException mid-transaction)
                    what = f"{fn}(DISTINCT *)" if is_distinct else f"{fn}(*)"
                    raise LakeSQLError(
                        f"{what} is not a valid aggregate: it takes a "
                        "column argument"
                    )
                if is_distinct and fn != "COUNT":
                    raise LakeSQLError(
                        f"DISTINCT is only maintained under COUNT "
                        f"(got {fn}(DISTINCT {arg}))"
                    )
                if fn == "COUNT" and is_distinct:
                    # exact distinct count: non-additive — refreshes route
                    # through partial recompute of the touched buckets
                    _check_alias(alias, f"distinct_{arg}")
                    if arg not in distinct_cols:
                        distinct_cols.append(arg)
                elif fn == "COUNT":
                    if arg == "*":
                        _check_alias(alias, "n_rows")
                    else:
                        # null-skipping COUNT(col): additive like n_rows
                        _check_alias(alias, f"count_{arg}")
                        if arg not in count_cols:
                            count_cols.append(arg)
                elif fn == "APPROX_COUNT_DISTINCT":
                    # HLL sketch state, additive on insert-only diffs
                    _check_alias(alias, f"approx_distinct_{arg}")
                    if arg not in approx_cols:
                        approx_cols.append(arg)
                elif fn in ("SUM", "AVG"):
                    _check_alias(alias, f"{fn.lower()}_{arg}")
                    if arg not in sum_cols:
                        sum_cols.append(arg)
                elif fn in (
                    "STDDEV", "STDDEV_SAMP", "VARIANCE", "VAR_SAMP",
                    "STDDEV_POP", "VAR_POP",
                ):
                    if fn.endswith("_POP"):
                        raise LakeSQLError(
                            f"{fn} is not maintained (sample semantics "
                            f"only): use {fn[:-4]}_SAMP, or derive the "
                            "population form from the sumsq_/sum_/count_ "
                            "state columns"
                        )
                    face = (
                        "stddev" if fn.startswith("STDDEV") else "var"
                    )
                    _check_alias(alias, f"{face}_{arg}")
                    # additive sum-of-squares state; the read-face formula
                    # divides by the NULL-skipping count, so SUM and COUNT
                    # state for the column ride along automatically
                    if arg not in var_cols:
                        var_cols.append(arg)
                    if arg not in sum_cols:
                        sum_cols.append(arg)
                    if arg not in count_cols:
                        count_cols.append(arg)
                else:  # MIN / MAX
                    _check_alias(alias, f"{fn.lower()}_{arg}")
                    if arg not in minmax_cols:
                        minmax_cols.append(arg)
                parsed.append(("agg",))
                continue
            mk = re.match(
                rf"^(.*)\s+AS\s+({_IDENT})\s*$", item, re.I | re.S
            )
            if mk:
                # expression KEY: a deterministic scalar over source
                # columns, stored under its (mandatory) alias — grouped by
                # computing the expr on every refresh path (rollup tier)
                expr, alias = mk.group(1).strip(), mk.group(2)
                al = alias.lower()
                reserved = al in ("bucket_start", "n_rows") or re.match(
                    r"^(sum|sumsq|avg|min|max|count|hll|distinct|"
                    r"approx_distinct|var|stddev)_", al
                )
                if reserved:
                    raise LakeSQLError(
                        f"expression-key alias {alias!r} collides with a "
                        "canonical rollup column name"
                    )
                called = {
                    t.lower()
                    for t in re.findall(
                        r"([A-Za-z_][A-Za-z0-9_]*)\s*\(",
                        strip_sql_literals(expr),
                    )
                }
                if called & self._MV_AGG_NAMES:
                    raise LakeSQLError(
                        f"aggregate {sorted(called & self._MV_AGG_NAMES)} "
                        "cannot appear in a group-key expression"
                    )
                self._mv_guard_deterministic(expr, src, "key expression")
                if al in {k.lower() for k in keys}:
                    raise LakeSQLError(f"duplicate key alias {alias!r}")
                keys.append(alias)
                key_exprs[alias] = expr
                parsed.append(("key", alias))
                continue
            raise LakeSQLError(
                f"unsupported materialized-view select item: {item!r} "
                "(plain key columns, <deterministic expr> AS <alias> "
                "keys, one time_bucket(...), and COUNT(*)/"
                "COUNT(col)/COUNT(DISTINCT col)/APPROX_COUNT_DISTINCT(col)/"
                "SUM/AVG/MIN/MAX/STDDEV/VARIANCE(col) only)"
            )

        # GROUP BY must cover exactly the keys (+ the bucket, if present);
        # items may be named, aliased, the full time_bucket expr, or ordinal
        covered_keys, covered_bucket = set(), False
        for tok in _split_top(gb) if gb else []:
            t = re.sub(r"\s+", " ", tok.strip())
            tl = t.lower()
            if t.isdigit():
                idx = int(t) - 1
                if not 0 <= idx < len(parsed):
                    raise LakeSQLError(f"GROUP BY ordinal {t} out of range")
                kind = parsed[idx]
                if kind[0] == "key":
                    covered_keys.add(kind[1].lower())
                elif kind[0] == "bucket":
                    covered_bucket = True
                else:
                    raise LakeSQLError("cannot GROUP BY an aggregate")
            elif tl in {k.lower() for k in keys}:
                covered_keys.add(tl)
            elif any(
                # normalize the RAW token (t is pre-collapsed INCLUDING
                # inside literals — feeding it here would reject a
                # byte-identical expression whose literal contains
                # consecutive whitespace)
                _norm_sql_expr(e) == _norm_sql_expr(tok.strip())
                for e in key_exprs.values()
            ):
                covered_keys.add(next(
                    a.lower() for a, e in key_exprs.items()
                    if _norm_sql_expr(e) == _norm_sql_expr(tok.strip())
                ))
            elif has_bucket and (
                tl == "bucket_start"
                or (bucket_alias and tl == bucket_alias.lower())
                or tl == bucket_expr
            ):
                covered_bucket = True
            else:
                raise LakeSQLError(f"bad GROUP BY item: {tok!r}")
        missing = {k.lower() for k in keys} - covered_keys
        if missing:
            raise LakeSQLError(
                f"key columns {sorted(missing)} must appear in GROUP BY"
            )
        if has_bucket and not covered_bucket:
            raise LakeSQLError("time_bucket(...) must appear in GROUP BY")

        if having is not None:
            # AVG(c) parity needs to know whether c can hold NULLs: the
            # read face's avg_c divides by COUNT(*), which equals SQL AVG
            # only for non-nullable columns (see _rewrite_mv_having).
            nullable_cols = (
                {
                    f.name.lower()
                    for f in self._schema_of(src).fields
                    if f.nullable
                }
                if self._table_exists(src)
                else {c.lower() for c in sum_cols}  # unknown: assume nullable
            )
            having = self._rewrite_mv_having(
                having,
                sum_cols=sum_cols,
                minmax_cols=minmax_cols,
                count_cols=count_cols,
                approx_cols=approx_cols,
                distinct_cols=distinct_cols,
                nullable_cols=nullable_cols,
                var_cols=var_cols,
            )
            # same discipline as the WHERE/key-expr guards: a volatile or
            # subquery-bearing HAVING would make two reads of the same MV
            # version disagree. Keys (incl. expression-key aliases) are
            # legitimate face references even when named like a volatile
            # function.
            self._mv_guard_deterministic(
                having, src, "HAVING", extra_cols=keys
            )

        return {
            "src": src,
            "time_col": time_col,
            "bucket_s": bucket_s,
            "keys": tuple(keys),
            "key_exprs": key_exprs,
            "sum_cols": tuple(sum_cols),
            "minmax_cols": tuple(minmax_cols),
            "count_cols": tuple(count_cols),
            "approx_cols": tuple(approx_cols),
            "distinct_cols": tuple(distinct_cols),
            "var_cols": tuple(var_cols),
            "where": where,
            "having": having,
        }

    def _rewrite_mv_having(
        self, text: str, *, sum_cols, minmax_cols, count_cols,
        approx_cols, distinct_cols, nullable_cols=frozenset(),
        var_cols=(),
    ) -> str:
        """Rewrite aggregate-function spellings in a HAVING predicate to
        the rollup's canonical read-face column names (``COUNT(*)`` ->
        n_rows, ``SUM(c)`` -> sum_c, ``MIN/MAX(c)`` -> min_c/max_c,
        ``COUNT(c)`` -> count_c, ``COUNT(DISTINCT c)`` -> distinct_c,
        ``APPROX_COUNT_DISTINCT(c)`` -> approx_distinct_c),
        refusing aggregates the view does not maintain — HAVING can only
        be answered from maintained state, never by re-scanning the
        source at read time. Canonical names (``HAVING sum_c > 5``) and
        key/bucket_start references pass through untouched.

        ``AVG(c)`` is NULL-exact: SQL AVG divides by the count of
        NON-NULL values, but the read face's ``avg_c`` divides by
        ``n_rows`` (COUNT(*)), so the two diverge as soon as the group
        holds a NULL. The rewrite therefore emits ``(sum_c / count_c)``
        when ``COUNT(c)`` is maintained, falls back to ``avg_c`` only
        when the source column is provably non-nullable (then the two
        denominators are equal), and otherwise refuses with a pointer at
        adding ``COUNT(c)`` to the SELECT list."""
        pools = {
            "sum": {c.lower(): c for c in sum_cols},
            "minmax": {c.lower(): c for c in minmax_cols},
            "count": {c.lower(): c for c in count_cols},
            "approx": {c.lower(): c for c in approx_cols},
            "distinct": {c.lower(): c for c in distinct_cols},
            "var": {c.lower(): c for c in var_cols},
        }

        def canon(m: "re.Match") -> str:
            fn = m.group(1).upper()
            is_distinct = bool(m.group(2))
            arg = m.group(3)

            def need(pool: str, face: str) -> str:
                hit = pools[pool].get(arg.lower())
                if hit is None:
                    shown = re.sub(r"\s+", " ", m.group(0))
                    raise LakeSQLError(
                        f"HAVING references {shown!r} but the view does "
                        "not maintain that aggregate: add it to the "
                        "SELECT list"
                    )
                return face.format(hit)

            if arg == "*":
                if fn == "COUNT" and not is_distinct:
                    return "n_rows"
                what = f"{fn}(DISTINCT *)" if is_distinct else f"{fn}(*)"
                raise LakeSQLError(
                    f"{what} is not a valid aggregate: it takes a "
                    "column argument"
                )
            if is_distinct:
                if fn != "COUNT":
                    raise LakeSQLError(
                        f"DISTINCT is only maintained under COUNT "
                        f"(got {fn}(DISTINCT {arg}) in HAVING)"
                    )
                return need("distinct", "distinct_{}")
            if fn == "COUNT":
                return need("count", "count_{}")
            if fn == "APPROX_COUNT_DISTINCT":
                return need("approx", "approx_distinct_{}")
            if fn in ("STDDEV", "STDDEV_SAMP"):
                return need("var", "stddev_{}")
            if fn in ("VARIANCE", "VAR_SAMP"):
                return need("var", "var_{}")
            if fn == "SUM":
                return need("sum", "sum_{}")
            if fn == "AVG":
                face = need("sum", "sum_{}")  # validates AVG's arg too
                hit_count = pools["count"].get(arg.lower())
                if hit_count is not None:
                    return f"({face} / count_{hit_count})"
                if arg.lower() not in nullable_cols:
                    return need("sum", "avg_{}")  # no NULLs: /n_rows exact
                raise LakeSQLError(
                    f"HAVING AVG({arg}) over a nullable column needs "
                    f"COUNT({arg}) maintained for exact NULL-skipping "
                    f"semantics: add COUNT({arg}) to the SELECT list "
                    f"(or use sum_{arg} / n_rows explicitly for the "
                    "COUNT(*) denominator)"
                )
            return need("minmax", fn.lower() + "_{}")  # MIN / MAX

        # literal-aware substitution: copy string literals verbatim,
        # rewrite only the SQL text between them
        from .rollup import map_sql_nonliteral

        rewritten = map_sql_nonliteral(
            text, lambda seg: self._MV_HAVING_AGG.sub(canon, seg)
        )
        # any aggregate CALL still standing is one the face cannot serve
        called = {
            t.lower()
            for t in re.findall(
                r"([A-Za-z_][A-Za-z0-9_]*)\s*\(",
                strip_sql_literals(rewritten),
            )
        }
        bad = sorted(called & self._MV_AGG_NAMES)
        if bad:
            raise LakeSQLError(
                f"HAVING aggregate {bad} is not maintained by this view: "
                "only its selected aggregates (or scalar expressions over "
                "them) may appear"
            )
        return rewritten

    def _create_mv(self, m, dex):
        from .rollup import create_rollup

        name = m["name"]
        spec = self._parse_mv_select(m["body"])
        if not self._table_exists(spec["src"]):
            raise LakeSQLError(f"no such table: {spec['src']!r}")
        # Validate every referenced column against the source schema BEFORE
        # anything is dropped or written: under OR REPLACE a typo'd column
        # must fail here, with the existing MV untouched — not deep inside
        # create_rollup's CTAS.
        src_cols = {f.name.lower() for f in self._schema_of(spec["src"]).fields}
        referenced = [
            c for c in spec["keys"] if c not in spec["key_exprs"]
        ]
        referenced += list(spec["sum_cols"]) + list(spec["minmax_cols"])
        referenced += list(spec["count_cols"]) + list(spec["approx_cols"])
        referenced += list(spec["distinct_cols"]) + list(spec["var_cols"])
        if spec["time_col"] is not None:
            referenced.append(spec["time_col"])
        missing = [c for c in referenced if c.lower() not in src_cols]
        if missing:
            raise LakeSQLError(
                f"column(s) {missing} not found in table {spec['src']!r}"
            )
        probe = (
            self.c.spark.createDataFrame(
                [], self._schema_of(spec["src"]).to_struct()
            )
            if spec["key_exprs"] or spec["where"]
            else None
        )
        for alias, expr in spec["key_exprs"].items():
            # analyze each key expression against an EMPTY frame of the
            # source schema BEFORE anything is dropped or written (same
            # contract as the WHERE validation below)
            from pyspark.sql import functions as F

            try:
                probe.select(F.expr(expr).alias(alias)).schema
            except Exception as e:
                raise LakeSQLError(
                    f"invalid expression key {expr!r}: {e}"
                ) from None
        if spec["where"]:
            # analyze the predicate against an EMPTY frame of the source
            # schema BEFORE anything is dropped or written (same contract
            # as the column validation above): a typo'd column or invalid
            # expression must fail here with the existing MV untouched
            try:
                probe.filter(spec["where"]).schema
            except Exception as e:
                raise LakeSQLError(
                    f"invalid materialized-view WHERE predicate: {e}"
                ) from None
        is_replace = False
        if self._mv_exists(name):
            if not m["replace"]:
                raise LakeSQLError(f"materialized view {name!r} exists")
            is_replace = True
        elif self._table_exists(name):
            raise LakeSQLError(f"table {name!r} exists")
        # OR REPLACE drops the old MV inside create_rollup's single catalog
        # transaction — atomic: readers see old or new, never neither, and
        # a mid-create failure leaves the old MV intact.
        create_rollup(
            self.c,
            name,
            spec["src"],
            spec["time_col"],
            spec["bucket_s"],
            keys=spec["keys"],
            sum_cols=spec["sum_cols"],
            minmax_cols=spec["minmax_cols"],
            count_cols=spec["count_cols"],
            approx_cols=spec["approx_cols"],
            distinct_cols=spec["distinct_cols"],
            var_cols=spec["var_cols"],
            replace=is_replace,
            where=spec["where"],
            key_exprs=spec["key_exprs"],
            having=spec["having"],
        )

    def _refresh_mv(self, m, dex):
        from .rollup import refresh_rollup

        if not self._mv_exists(m["name"]):
            raise LakeSQLError(f"no such materialized view: {m['name']!r}")
        return refresh_rollup(self.c, m["name"])["changed_buckets"]

    def _drop_mv(self, m, dex):
        from .rollup import _meta_name

        name = m["name"]
        if not self._mv_exists(name):
            if m["ifx"]:
                return 0
            raise LakeSQLError(f"no such materialized view: {name!r}")

        def op(tx):
            tx.drop_table(name)
            tx.drop_table(_meta_name(name))

        self._run(op)

    def _mv_overlay(self, version=None) -> None:
        """Re-bind every materialized view through the rollup read face so
        SQL reads see the derived ``avg_<c>`` / ``approx_distinct_<c>``
        columns instead of the raw stored state (binary HLL sketches
        hidden) — the face itself comes from rollup.apply_read_face, the
        single source of truth. Meta rows are cached per (mv, catalog
        version) — keyed by name, latest version only, so the cache stays
        O(#MVs); catalogs with no MVs pay nothing."""
        from .rollup import META_REQUIRED_COLS, _meta_name, apply_read_face

        ts = set(self.c.tables(version))
        mvs = [t for t in ts if _meta_name(t) in ts]
        if not mvs:
            return
        v = self.c.current_version() if version is None else version
        for t in mvs:
            hit = self._mv_cols.get(t)
            meta_row = hit[1] if hit is not None and hit[0] == v else None
            if meta_row is None:
                # Guard like export_to: a huge USER table named
                # X__rollup_meta with a sibling X must never be collected
                # on a read overlay — column shape is DataFrame metadata,
                # the row-count probe is catalog-metadata-only
                meta_df = self.c.read(_meta_name(t), version=version)
                if not META_REQUIRED_COLS <= set(meta_df.columns):
                    continue  # a same-named table pair, not an MV
                if self.c.count(_meta_name(t), version=version) != 1:
                    continue
                meta_row = meta_df.collect()[0].asDict()
                self._mv_cols[t] = (v, meta_row)
            apply_read_face(
                self.c.read(t, version=version), meta_row
            ).createOrReplaceTempView(t)

    # ------------------------------------------------------------------
    def _run(self, op):
        """Run a transactional op and return its result: inside the open
        explicit txn, or autocommit (one snapshot — the reference's per-op
        snapshot loop)."""
        if self._tx is not None:
            return op(self._tx)
        with self.c.transaction() as tx:
            return op(tx)

    def _query(self, body: str, version=None) -> DataFrame:
        """Evaluate a read query through Catalyst, binding lake tables and
        rewriting the AT (VERSION|TIMESTAMP =>) clauses plus the ducklake_*
        metadata table functions.

        Inside an open transaction the binding is snapshot-isolated:
        untouched tables bind at the txn's BASE version (a concurrent
        writer's commit must not appear mid-transaction), touched tables
        bind to the staged state (read-your-writes), and tables dropped in
        the txn are unregistered so reads of them fail."""
        self._bind_tables(version)
        self._file_views = []
        try:
            return self.c.spark.sql(
                self._rewrite_meta_fns(
                    self.c._rewrite_at(
                        self._rewrite_mv_at(
                            self._rewrite_attached(
                                self._rewrite_file_fns(
                                    self._rewrite_dialect(body)
                                )
                            )
                        )
                    )
                )
            )
        finally:
            # the plan is analyzed (views resolved) by the time spark.sql
            # returns; dropping them here keeps the session catalog clean
            for v in self._file_views:
                self.c.spark.catalog.dropTempView(v)
            self._file_views = []

    # -- EXPORT / IMPORT DATABASE (DuckDB's file-based portability pair) ---
    def _sql_literal(self, v) -> str:
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    def _export_database(self, m, dex):
        """``EXPORT DATABASE '<dir>' [(FORMAT PARQUET|CSV)]`` — DuckDB's
        file-based portability verb: ``schema.sql`` (CREATE TABLE with
        NOT NULL / DEFAULT / PRIMARY KEY / PARTITION BY, then CREATE VIEW),
        ``load.sql`` (one COPY ... FROM per table), and one data file per
        table. Data is the RAW table state (``catalog.read``, not the MV
        read face), so rollup state + meta companions round-trip and the
        pair is a live materialized view again after IMPORT. FORMAT CSV
        (DuckDB's default EXPORT format) is accepted for databases whose
        tables are all CSV-representable; a table carrying binary sketch
        state (``hll_*`` MV companions) or nested array/map/struct
        columns fails with a pointed error naming it — those types do
        not round-trip CSV losslessly, use PARQUET."""
        import os as _os

        path = m["path"].replace("''", "'")
        fmt = (m["fmt"] or "PARQUET").upper()
        if fmt not in ("PARQUET", "CSV"):
            raise LakeSQLError(
                f"EXPORT DATABASE format {fmt!r} not supported "
                "(PARQUET or CSV)"
            )
        if fmt == "CSV":
            for t in self.c.tables():
                bad = [
                    f"{f.name} {f.type}"
                    for f in self._schema_of(t).fields
                    if re.match(
                        r"^(binary|array|map|struct)", f.type.lower()
                    )
                ]
                if bad:
                    raise LakeSQLError(
                        f"EXPORT DATABASE (FORMAT CSV): table {t!r} "
                        f"column(s) {bad} cannot round-trip CSV "
                        "losslessly (binary sketch / nested state) — "
                        "use (FORMAT PARQUET)"
                    )
        _os.makedirs(path, exist_ok=True)
        schema_lines, load_lines = [], []
        tables = self.c.tables()
        from .schema import value_from_json

        for t in tables:
            sch = self._schema_of(t)
            parts = []
            for f in sch.fields:
                d = f"{f.name} {f.type.upper()}"
                if not f.nullable and f.name not in sch.primary_key:
                    d += " NOT NULL"
                if isinstance(f.default, dict) and "$expr" in f.default:
                    d += f" DEFAULT {f.default['$expr']}"
                elif f.default is not None:
                    d += (
                        " DEFAULT "
                        + self._sql_literal(value_from_json(f.default))
                    )
                parts.append(d)
            if sch.primary_key:
                parts.append(
                    "PRIMARY KEY (" + ", ".join(sch.primary_key) + ")"
                )
            stmt = f"CREATE TABLE {t} (" + ", ".join(parts) + ")"
            if sch.partition_by:
                stmt += " PARTITION BY (" + ", ".join(sch.partition_by) + ")"
            schema_lines.append(stmt + ";")
            esc = path.replace("'", "''")
            if fmt == "CSV":
                # declare the table's column types in the COPY options —
                # loading by schema, not inference: '007' in a VARCHAR
                # column must round-trip as '007', not as inferred INT 7
                # cast back to '7' (DuckDB and the parquet path both load
                # by the table schema)
                cols_struct = ", ".join(
                    "'{}': '{}'".format(
                        f.name.replace("'", "''"),
                        f.type.upper().replace("'", "''"),
                    )
                    for f in sch.fields
                )
                load_lines.append(
                    f"COPY {t} FROM '{esc}/{t}.csv' "
                    f"(FORMAT CSV, HEADER true, COLUMNS {{{cols_struct}}});"
                )
                self._write_single_file(
                    self.c.read(t),
                    _os.path.join(path, f"{t}.csv"),
                    "csv",
                )
            else:
                load_lines.append(f"COPY {t} FROM '{esc}/{t}.parquet';")
                self._write_single_file(
                    self.c.read(t),
                    _os.path.join(path, f"{t}.parquet"),
                    "parquet",
                )
        for vname, vsql in self.c.views().items():
            schema_lines.append(f"CREATE VIEW {vname} AS {vsql};")
        with open(_os.path.join(path, "schema.sql"), "w") as fh:
            fh.write("\n".join(schema_lines) + "\n")
        with open(_os.path.join(path, "load.sql"), "w") as fh:
            fh.write("\n".join(load_lines) + "\n")
        return len(tables)

    @staticmethod
    def _split_script(text: str):
        """Split an export script into statements on ``;`` OUTSIDE string
        literals (``''`` is the escape). A view definition containing a
        semicolon in a literal — or spanning multiple lines — survives
        intact, which a plain ``split(';\\n')`` would break."""
        stmts, cur, in_str = [], [], False
        i, n = 0, len(text)
        while i < n:
            ch = text[i]
            if in_str:
                cur.append(ch)
                if ch == "'":
                    if i + 1 < n and text[i + 1] == "'":
                        cur.append("'")
                        i += 1
                    else:
                        in_str = False
            elif ch == "'":
                in_str = True
                cur.append(ch)
            elif ch == ";":
                s = "".join(cur).strip()
                if s:
                    stmts.append(s)
                cur = []
            else:
                cur.append(ch)
            i += 1
        s = "".join(cur).strip()
        if s:
            stmts.append(s)
        return stmts

    def _import_database(self, m, dex):
        """``IMPORT DATABASE '<dir>'`` — executes the exported
        ``schema.sql`` then ``load.sql`` (quote-aware statement split,
        the shape _export_database writes), then restamps ONLY the
        rollup meta companions this import created at this catalog's
        HEAD (source-version stamps are meaningless here — same rule as
        catalog.export_to). Pre-existing MVs in the destination keep
        their stamps: advancing them would skip their unfolded base
        deltas on the next REFRESH."""
        import os as _os

        path = m["path"].replace("''", "'")
        n = 0
        created: set = set()
        for script in ("schema.sql", "load.sql"):
            p = _os.path.join(path, script)
            if not _os.path.exists(p):
                raise LakeSQLError(
                    f"IMPORT DATABASE: missing {script} under {path!r}"
                )
            with open(p) as fh:
                for stmt in self._split_script(fh.read()):
                    m = re.match(
                        r"CREATE\s+TABLE\s+([A-Za-z_][A-Za-z0-9_]*)",
                        stmt,
                        re.I,
                    )
                    if m:
                        created.add(m.group(1))
                    self.execute(stmt)
                    n += 1
        self.c.restamp_rollup_metas(only=created)
        return n

    def _write_single_file(
        self, df: DataFrame, target: str, fmt: str = "parquet"
    ) -> None:
        """One parquet/csv FILE at ``target`` (atomic temp-dir + move),
        the COPY TO single-file pattern. CSV is written with a header so
        the IMPORT side aligns columns by name."""
        import glob as _glob
        import os as _os
        import shutil as _shutil
        import uuid as _uuid

        parent = _os.path.dirname(_os.path.abspath(target)) or "."
        tmp = _os.path.join(parent, f".__exp_tmp_{_uuid.uuid4().hex[:12]}")
        try:
            w = df.coalesce(1).write.mode("overwrite")
            if fmt == "csv":
                w.option("header", True).csv(tmp)
            else:
                w.parquet(tmp)
            parts = sorted(_glob.glob(_os.path.join(tmp, "part-*")))
            if len(parts) != 1:
                raise LakeSQLError(
                    f"single-file export produced {len(parts)} parts"
                )
            _shutil.move(parts[0], target)
        finally:
            _shutil.rmtree(tmp, ignore_errors=True)

    # -- INSERT OR REPLACE / OR IGNORE (DuckDB ON CONFLICT shorthands) -----
    def _upsert_insert(self, name: str, df: DataFrame, mode: str) -> int:
        """``INSERT OR REPLACE INTO`` (upsert by primary key) and ``INSERT
        OR IGNORE INTO`` (insert only non-conflicting rows) — DuckDB's ON
        CONFLICT shorthands, lowered onto the MERGE machinery (stats-pruned
        copy-on-write; only files containing a hit key rewrite). Like
        DuckDB, both forms require a PRIMARY KEY on the target. A source
        batch carrying duplicate keys raises ConstraintViolation in BOTH
        modes — DuckDB's row-at-a-time executor lets the first duplicate
        through under OR IGNORE, but "first" is not a deterministic notion
        for a distributed source, and a silent arbitrary winner is worse
        than an explicit error (same stance as MERGE's SEQUENCE BY tie
        handling)."""
        pk = list(self._schema_of(name).primary_key)
        if not pk:
            raise LakeSQLError(
                f"INSERT OR {mode.upper()} requires a PRIMARY KEY on "
                f"{name!r} (it resolves conflicts by key)"
            )
        replace = mode.lower() == "replace"
        res: dict = {}

        def op(tx):
            res.update(
                tx.merge(
                    name, df, on=pk,
                    when_matched="update" if replace else "skip",
                )
            )

        self._run(op)
        n = res.get("inserted", 0)
        return n + (res.get("matched", 0) if replace else 0)

    # -- SUMMARIZE (DuckDB's per-column profile verb) ----------------------
    _SUMMARIZE_SCHEMA = (
        "column_name string, column_type string, min string, max string, "
        "approx_unique bigint, avg string, std string, q25 string, "
        "q50 string, q75 string, count bigint, null_percentage decimal(5,2)"
    )

    def _summarize_stmt(self, m, dex):
        """``SUMMARIZE <table>`` / ``SUMMARIZE <select>`` — DuckDB's
        per-column profile (min/max/approx_unique/avg/std/quartiles/count/
        null%), same column layout. ONE global aggregation over one scan
        computes every statistic for every column at once (partial aggs
        map-side, a single-row result to the driver) — at 100 TB this is
        exactly one pass over the data; the reshape to one-row-per-column
        happens on the driver over #columns values. Quantiles are
        percentile_approx and the distinct count is a HyperLogLog sketch —
        the same approximations DuckDB's SUMMARIZE makes. min/max/avg ride
        only on types where they are defined (DuckDB's behavior: string
        columns profile min/max but not avg; complex types neither)."""
        from decimal import Decimal

        from pyspark.sql import functions as F, types as T

        target = m["body"].strip()
        if re.fullmatch(rf"{_IDENT}(\s*\.\s*{_IDENT})?", target):
            # bare or attached-catalog-qualified table name
            df = self._query(f"SELECT * FROM {target}")
        elif re.match(r"^(SELECT|WITH|FROM)\b", target, re.I):
            df = self._query(target)
        else:
            raise LakeSQLError(
                "SUMMARIZE expects a table name or a SELECT query"
            )
        orderable = (
            T.NumericType, T.StringType, T.DateType, T.TimestampType,
            T.TimestampNTZType, T.BooleanType,
        )
        aggs = [F.count(F.lit(1)).alias("__n")]
        for i, f in enumerate(df.schema.fields):
            c, pre = F.col(f.name), f"c{i}"
            if isinstance(f.dataType, orderable):
                aggs += [
                    F.min(c).cast("string").alias(f"{pre}_min"),
                    F.max(c).cast("string").alias(f"{pre}_max"),
                    F.approx_count_distinct(c).alias(f"{pre}_uniq"),
                ]
            aggs.append(F.count(c).alias(f"{pre}_cnt"))
            if isinstance(f.dataType, T.NumericType):
                aggs += [
                    F.avg(c).cast("string").alias(f"{pre}_avg"),
                    F.stddev(c).cast("string").alias(f"{pre}_std"),
                    *[
                        F.percentile_approx(c, p)
                        .cast("string")
                        .alias(f"{pre}_q{int(p * 100)}")
                        for p in (0.25, 0.5, 0.75)
                    ],
                ]
        row = df.agg(*aggs).collect()[0].asDict()
        n = row["__n"]
        out = []
        for i, f in enumerate(df.schema.fields):
            pre = f"c{i}"
            cnt = row[f"{pre}_cnt"]
            out.append(
                (
                    f.name,
                    f.dataType.simpleString().upper(),
                    row.get(f"{pre}_min"),
                    row.get(f"{pre}_max"),
                    row.get(f"{pre}_uniq"),
                    row.get(f"{pre}_avg"),
                    row.get(f"{pre}_std"),
                    row.get(f"{pre}_q25"),
                    row.get(f"{pre}_q50"),
                    row.get(f"{pre}_q75"),
                    n,
                    (
                        Decimal(str(round(100.0 * (n - cnt) / n, 2)))
                        if n
                        else None
                    ),
                )
            )
        return self.c.spark.createDataFrame(out, self._SUMMARIZE_SCHEMA)

    # -- DuckDB dialect sugar (QUALIFY, * EXCLUDE, function aliases) ------
    # DuckDB spellings whose Spark builtin is an EXACT semantic match
    # (verified differentially; see tests). Deliberately absent:
    # string_split (DuckDB splits on a literal, Spark's split takes a
    # regex) and list_sort (the engines default to opposite NULL
    # ordering) — a silent rewrite would corrupt results for some inputs.
    _FN_ALIASES = {
        "list_value": "array",
        "list_contains": "array_contains",
        "regexp_matches": "regexp_like",
        "strlen": "length",
        "array_length": "array_size",
        "unnest": "explode",
    }
    _FN_ALIAS_RE = re.compile(
        r"\b(" + "|".join(_FN_ALIASES) + r")\s*\(", re.I
    )

    def _rewrite_dialect(self, q: str) -> str:
        """DuckDB SELECT-dialect forms Spark's parser lacks, rewritten to
        their Spark equivalents (reference queries use DuckDB's dialect —
        see utils/ducklake_utils.py:49 run_query, which passes SQL text
        straight to DuckDB):

        * ``* EXCLUDE (a, b)`` / ``* EXCLUDE a``  ->  ``* EXCEPT (a, b)``
          (Spark's native spelling of the same projection).
        * function aliases (``_FN_ALIASES``): DuckDB names rewritten to
          the Spark builtin with identical semantics — only call
          positions (``name(``) match, so columns sharing a name are
          untouched. ``GROUP BY ALL``, ``ORDER BY ALL`` and FROM-first
          selects need no rewrite: Spark parses them natively.
        * top-level ``QUALIFY <pred>``  ->  the predicate is injected into
          the select list as a lateral-aliased boolean column and filtered
          one level up: ``SELECT * EXCEPT (__qualify) FROM (SELECT ...,
          (<pred>) AS __qualify FROM ...) WHERE __qualify [tail]``.
          Injection into the ORIGINAL select list (rather than wrapping the
          whole select) is what makes both reference styles work: window
          functions in <pred> may use FROM-scope columns the select list
          drops, and alias references to select-list windows resolve via
          Spark's lateral column aliases. QUALIFY inside a subquery or CTE
          body is not rewritten (parenthesized scopes are left alone);
          combined with SELECT DISTINCT it is rejected rather than given
          drifting semantics (DuckDB applies DISTINCT after QUALIFY, which
          the injection cannot reproduce).
        """
        from .rollup import map_sql_nonliteral

        def _sugar(seg: str) -> str:
            seg = self._FN_ALIAS_RE.sub(
                lambda m: self._FN_ALIASES[m.group(1).lower()] + "(", seg
            )
            # anchored to the star form (`* EXCLUDE` / `t.* EXCLUDE`):
            # a bare identifier named `exclude` elsewhere must not be
            # mangled into EXCEPT (...)
            seg = re.sub(
                rf"(\*\s*)EXCLUDE\s+({_IDENT})\b",
                r"\1EXCEPT (\2)",
                seg,
                flags=re.I,
            )
            return re.sub(
                r"(\*\s*)EXCLUDE\s*\(", r"\1EXCEPT (", seg, flags=re.I
            )

        q = map_sql_nonliteral(q, _sugar)
        pos = _top_keyword_positions(q, "QUALIFY")
        if not pos:
            return q
        if len(pos) > 1:
            raise LakeSQLError(
                "only one top-level QUALIFY clause is supported; wrap the "
                "other SELECT in a subquery"
            )
        p = pos[0]
        head, rest = q[:p], q[p + len("QUALIFY"):]
        if re.match(rf"\s*SELECT\s+DISTINCT\b", head, re.I):
            raise LakeSQLError(
                "QUALIFY with SELECT DISTINCT is not supported; apply "
                "DISTINCT in an outer query"
            )
        tail_at = len(rest)
        for kw in ("ORDER", "LIMIT", "OFFSET"):
            kp = _top_keyword_positions(rest, kw)
            if kp:
                tail_at = min(tail_at, kp[0])
        pred, tail = rest[:tail_at].strip(), rest[tail_at:]
        if not pred:
            raise LakeSQLError("QUALIFY requires a predicate")
        from_pos = _top_keyword_positions(head, "FROM")
        if not from_pos:
            raise LakeSQLError("QUALIFY requires a FROM clause")
        f0 = from_pos[0]
        # Resolve select-list aliases INSIDE the predicate textually (the
        # DuckDB scoping rule): Spark's lateral column aliases cover plain
        # references but are rejected inside window expressions
        # (UNSUPPORTED_FEATURE.LATERAL_COLUMN_ALIAS_IN_WINDOW), so
        # ``QUALIFY row_number() OVER (ORDER BY total)`` with ``sum(v) AS
        # total`` must become ``... ORDER BY (sum(v))``. Chained aliases
        # resolve by iterating to a fixpoint (bounded).
        sel_pos = _top_keyword_positions(head, "SELECT")
        aliases = {}
        if sel_pos:  # CTE bodies are parenthesized -> main SELECT only
            for item in _split_top(head[sel_pos[-1] + len("SELECT"):f0]):
                m = re.search(rf"\s+AS\s+({_IDENT})\s*$", item, re.I)
                if m:
                    aliases[m.group(1).lower()] = item[: m.start()].strip()
        # Token-boundary-aware substitution: no match after `.` (a
        # qualified column `t.total` names the FROM column, not the
        # alias), no match at call positions (`sum(` when the alias is
        # `sum`), and the replacement goes through a CALLABLE so a
        # backslash in the aliased expression (regexp_extract(s, '\d+'))
        # is inserted verbatim instead of raising re.error / being read
        # as a group reference.
        for _ in range(3):
            before = pred
            for name, expr in aliases.items():
                pat = re.compile(
                    rf"(?<![\w.`]){re.escape(name)}\b(?!\s*\()", re.I
                )
                pred = map_sql_nonliteral(
                    pred,
                    lambda seg, p=pat, e=expr: p.sub(
                        lambda m: "(" + e + ")", seg
                    ),
                )
            if pred == before:
                break
        inner = f"{head[:f0].rstrip()}, ({pred}) AS __qualify {head[f0:]}"
        return (
            f"SELECT * EXCEPT (__qualify) FROM ({inner}) __qualify_q "
            f"WHERE __qualify {tail}"
        )

    # -- attached catalogs (ATTACH 'path' AS name) -----------------------
    def _attach_stmt(self, m, dex):
        """``ATTACH '<path>' AS <name> [(READ_ONLY | DATA_PATH '<dir>',
        ...)]`` — bind a SECOND lake catalog for qualified reads and
        writes, the reference's side-by-side dev/prod migration flow
        (utils/ducklake_utils.py:27 ``ATTACH 'ducklake:...' AS``;
        demos/05_catalog_portability/demo.py:194-299). Session-scoped,
        like a DuckDB connection's attach list. ``(READ_ONLY)`` is
        DuckDB's flag: qualified writes and ``USE``-defaulted statements
        against the catalog raise instead of mutating it. ``DATA_PATH``
        is DuckLake's option naming the data-file directory — required
        for DB-backed catalogs (``ducklake:postgresql://host/db``,
        ``ducklake:mysql://host/db``, the reference's connection-string
        table README.md:227-236), optional for directory/sqlite catalogs
        where a default derives from the catalog location. The
        ``ducklake:`` / ``lake:`` URL prefixes are accepted and
        stripped."""
        read_only, data_path = False, None
        for item in _split_top(m["opts"]) if m["opts"] else []:
            if re.fullmatch(r"READ_ONLY", item, re.I):
                read_only = True
                continue
            mm = re.fullmatch(r"DATA_PATH\s+'((?:[^']|'')*)'", item, re.I)
            if mm:
                data_path = mm.group(1).replace("''", "'")
                continue
            raise LakeSQLError(
                f"unknown ATTACH option {item!r} "
                "(READ_ONLY, DATA_PATH '<dir>')"
            )
        name, path = m["name"], m["path"].replace("''", "'")
        key = name.lower()
        if key == "main":
            # 'main' names the BOUND catalog everywhere (qualified
            # reads/writes, COPY FROM DATABASE, delegate attach lists) —
            # letting an attachment shadow it would make the same
            # spelling target two different catalogs depending on verb
            raise LakeSQLError(
                "'main' is reserved for the bound catalog; "
                "pick another alias"
            )
        if key in self._attached:
            raise LakeSQLError(f"catalog {name!r} is already attached")
        for pref in ("ducklake:", "lake:"):
            if path.startswith(pref):
                path = path[len(pref):]
        from .catalog import LakeCatalog, LakeError

        try:
            self._attached[key] = LakeCatalog(
                path, self.c.spark, data_dir=data_path
            )
        except LakeError as e:
            raise LakeSQLError(str(e)) from e
        if read_only:
            self._att_readonly.add(key)

    def _detach_stmt(self, m, dex):
        key = m["name"].lower()
        delegate = self._att_sql.get(key)
        if delegate is not None and delegate._tx is not None:
            # detaching would silently discard the staged writes
            raise LakeSQLError(
                f"catalog {m['name']!r} has an open transaction: COMMIT or "
                "ROLLBACK it before DETACH"
            )
        if self._attached.pop(key, None) is None:
            raise LakeSQLError(f"no attached catalog named {m['name']!r}")
        self._att_sql.pop(key, None)
        self._att_readonly.discard(key)
        if self._use == key:
            self._use = None  # default falls back to the bound catalog

    def _copy_database_stmt(self, m, dex):
        """``COPY FROM DATABASE a TO b`` — DuckDB's whole-catalog
        migration verb (demos/05_catalog_portability/demo.py:199-280):
        every live table (schema + PK + rows) and view recreated in the
        target via export_to. Either side may be an attached name or
        ``main`` (the bound catalog); the target resolves as a write
        (export_to creates tables, inserts rows, and restamps metas)."""
        dst_x = self._resolve(m["dst"], write=True)
        src_x = self._resolve(m["src"])
        for n, x in ((m["dst"], dst_x), (m["src"], src_x)):
            if x is None:
                raise LakeSQLError(
                    f"no attached catalog named {n!r} (ATTACH it first; "
                    "'main' names the bound catalog)"
                )
            if x._tx is not None:
                # migrating into (or out of) a catalog whose USE'd
                # delegate holds staged writes would interleave with —
                # or conflict against — that open transaction
                raise LakeSQLError(
                    f"catalog {n!r} has an open transaction: COMMIT "
                    "or ROLLBACK it before COPY FROM DATABASE"
                )
        if src_x.c is dst_x.c:
            raise LakeSQLError("COPY FROM DATABASE: source == target")
        src_x.c.export_to(dst_x.c)
        return len(src_x.c.tables())

    def _rewrite_attached(self, q: str) -> str:
        """Rewrite ``<attached>.<table>`` qualified references to temp
        views bound from the attached catalog — lazily, only for names
        the query actually touches (an attach list of N catalogs must not
        cost N full binds per statement). MVs bind through the rollup
        read face (same shape+count guard as the main overlay). Qualified
        names only rewrite when the prefix IS an attached catalog AND the
        suffix IS one of its tables, so ordinary ``alias.column``
        references never match. A trailing ``AT (VERSION|TIMESTAMP => v)``
        clause time-travels the ATTACHED catalog's history (r12) — it is
        consumed here so the later main-catalog AT rewrite never sees
        it."""
        if not self._attached:
            return q
        from .rollup import META_REQUIRED_COLS, _meta_name, read_rollup

        def _bind(dex, cat: str, tbl: str, version=None):
            """-> view name, or None when ``tbl`` isn't a table of the
            catalog ``cat`` resolved to (the caller leaves the original
            text alone)."""
            if dex is self and version is None:
                # self-qualification: the executor's own bind already
                # registered this table (txn-staged state included) —
                # the unqualified name IS the right view
                return tbl if self._table_exists(tbl) else None
            ac = dex.c
            ts = set(ac.tables())
            if tbl not in ts:
                return None
            suffix = "" if version is None else f"__at_v{version}"
            view = f"__att_{cat.lower()}__{tbl}{suffix}"
            df = ac.read(tbl, version=version)
            if version is None and _meta_name(tbl) in ts:
                meta_df = ac.read(_meta_name(tbl))
                if META_REQUIRED_COLS <= set(meta_df.columns) and (
                    ac.count(_meta_name(tbl)) == 1
                ):
                    df = read_rollup(ac, tbl)
            df.createOrReplaceTempView(view)
            return view

        def _rw_at(m: "re.Match") -> str:
            cat, tbl, kind, val = (
                m.group(1), m.group(2), m.group(3), m.group(4),
            )
            dex = self._resolve(cat)
            if dex is None:
                return m.group(0)
            if kind.upper() == "VERSION":
                version = int(val)
            else:
                version = dex.c._resolve_version(
                    timestamp=val.strip().strip("'\"")
                )
            return _bind(dex, cat, tbl, version) or m.group(0)

        def _rw(m: "re.Match") -> str:
            dex = self._resolve(m.group(1))
            if dex is None:
                return m.group(0)
            return _bind(dex, m.group(1), m.group(2)) or m.group(0)

        from .rollup import map_sql_nonliteral

        # pass 1: qualified AT clauses. The match must START outside a
        # string literal (a literal containing '<att>.<t> AT (...)' is
        # data, not a clause — _search_nonliteral guards that), but the
        # AT payload itself may HOLD a literal (TIMESTAMP => '...'),
        # which the nonliteral segmentation of pass 2 would split
        # mid-clause — hence the manual scan instead of map_sql_nonliteral
        at_pat = re.compile(
            rf"\b({_IDENT})\s*\.\s*({_IDENT})\s+AT\s*"
            rf"\(\s*(VERSION|TIMESTAMP)\s*=>\s*([^)]+)\)",
            re.I,
        )
        out, i = [], 0
        while True:
            m = self._search_nonliteral(at_pat, q, i)
            if m is None:
                out.append(q[i:])
                break
            out.append(q[i: m.start()])
            out.append(_rw_at(m))
            i = m.end()
        q = "".join(out)
        # pass 2, literal-aware: plain qualified reads
        return map_sql_nonliteral(
            q,
            lambda seg: re.sub(
                rf"\b({_IDENT})\s*\.\s*({_IDENT})\b", _rw, seg
            ),
        )

    _FILE_FN = re.compile(r"\b(read_parquet|read_csv_auto|read_csv)\s*\(", re.I)
    # DuckDB csv type spellings -> Spark DDL (anything else passes through:
    # Spark's DDL parser covers decimal(p,s), date, timestamp, ...)
    _CSV_TYPES = {
        "varchar": "string", "text": "string", "char": "string",
        "integer": "int", "int4": "int", "int8": "bigint",
        "hugeint": "decimal(38,0)", "real": "float", "float4": "float",
        "float8": "double", "bool": "boolean",
    }

    def _rewrite_file_fns(self, q: str) -> str:
        """DuckDB's file table functions — ``read_parquet('path')`` and
        ``read_csv('path' [, header => true|false] [, delim => ','] [,
        quote => '\"'] [, columns => {'a': 'INT', ...}])`` /
        ``read_csv_auto`` / ``types`` as an alias of ``columns`` —
        rewrite to temp views bound to Spark's readers (csv with schema
        inference and a DuckDB-style header sniff unless ``columns``
        declares the schema), so external files are queryable and
        ingestible SQL-first: COPY's inverse. The path is a standard SQL
        string literal ('' escapes an apostrophe, same as COPY's
        grammar) and may be a file, a directory of part files, or a
        glob. Calls inside string literals are left untouched; the
        registered views are session-temporary and dropped after the
        statement's plan is analyzed (see _query)."""
        out, i = [], 0
        while True:
            m = self._search_nonliteral(self._FILE_FN, q, i)
            if m is None:
                out.append(q[i:])
                return "".join(out)
            close = self._match_paren(q, m.end() - 1)
            view = self._bind_file_fn(
                m.group(1).lower(), q[m.end(): close]
            )
            out.append(q[i: m.start()])
            out.append(view)
            i = close + 1

    @staticmethod
    def _search_nonliteral(pat, q: str, start: int):
        """First match of ``pat`` at or after ``start`` that is NOT inside
        a single-quoted SQL string literal ('' escape aware)."""
        spans = []
        i, n = 0, len(q)
        while i < n:
            if q[i] == "'":
                j = i + 1
                while j < n:
                    if q[j] == "'":
                        if j + 1 < n and q[j + 1] == "'":
                            j += 2
                            continue
                        break
                    j += 1
                spans.append((i, j))
                i = j + 1
            else:
                i += 1
        pos = start
        while True:
            m = pat.search(q, pos)
            if m is None or not any(a <= m.start() <= b for a, b in spans):
                return m
            # resume just past the rejected match's START, not its end: a
            # greedy in-literal match can swallow text beyond the literal
            # that contains a REAL match (e.g. "'t AT (VERSION => ' || c,
            # u AT (VERSION => 1)")
            pos = m.start() + 1

    @staticmethod
    def _match_paren(q: str, popen: int) -> int:
        """Index of the ')' matching the '(' at ``popen``, skipping
        string literals."""
        depth, i, n = 0, popen, len(q)
        while i < n:
            ch = q[i]
            if ch == "'":
                j = i + 1
                while j < n:
                    if q[j] == "'":
                        if j + 1 < n and q[j + 1] == "'":
                            j += 2
                            continue
                        break
                    j += 1
                i = j + 1
                continue
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    return i
            i += 1
        raise LakeSQLError("unbalanced parentheses in read_* call")

    def _bind_file_fn(self, fn: str, argstext: str) -> str:
        """Parse one read_parquet/read_csv argument list, bind the file
        DataFrame as a temp view, and return the view name."""
        args = _split_top(argstext) if argstext.strip() else []
        if not args or not re.fullmatch(
            r"'(?:[^']|'')*'", args[0].strip(), re.S
        ):
            raise LakeSQLError(
                f"{fn} needs a quoted path as its first argument"
            )
        path = args[0].strip()[1:-1].replace("''", "'")
        header, delim, quote, columns = None, ",", '"', None
        for a in args[1:]:
            mm = re.match(rf"^({_IDENT})\s*=>\s*(.+)$", a.strip(), re.S)
            if not mm:
                raise LakeSQLError(f"bad {fn} argument {a.strip()!r}")
            k, v = mm.group(1).lower(), mm.group(2).strip()
            if fn == "read_parquet":
                raise LakeSQLError(f"read_parquet takes no {k!r} argument")
            if k == "header":
                if v.lower() not in ("true", "false"):
                    raise LakeSQLError("header => true|false")
                header = v.lower() == "true"
            elif k in ("delim", "delimiter", "sep"):
                delim = v.strip()[1:-1].replace("''", "'")
            elif k == "quote":
                quote = v.strip()[1:-1].replace("''", "'")
            elif k in ("columns", "types"):
                columns = self._parse_csv_columns(v)
            else:
                raise LakeSQLError(
                    f"unknown {fn} argument {k!r} (header, delim, quote, "
                    "columns/types)"
                )
        fmt = "parquet" if fn == "read_parquet" else "csv"
        df = self._external_df(
            path, fmt, header, delim, quote=quote, columns=columns
        )
        view = "__file_" + hashlib.md5(
            f"{fn}:{path}:{header}:{delim}:{quote}:{columns}".encode()
        ).hexdigest()[:12]
        df.createOrReplaceTempView(view)
        self._file_views.append(view)
        return view

    def _parse_csv_columns(self, text: str) -> dict:
        """``{'name': 'TYPE', ...}`` (DuckDB's read_csv columns/types
        struct) -> ordered {name: spark_ddl_type}."""
        t = text.strip()
        if not (t.startswith("{") and t.endswith("}")):
            raise LakeSQLError(
                "columns/types expects {'name': 'TYPE', ...}"
            )
        out = {}
        body = t[1:-1].strip()
        for pair in _split_top(body) if body else []:
            mm = re.match(
                r"^'((?:[^']|'')*)'\s*:\s*'((?:[^']|'')*)'$", pair.strip()
            )
            if not mm:
                raise LakeSQLError(f"bad columns/types entry {pair.strip()!r}")
            name = mm.group(1).replace("''", "'")
            typ = mm.group(2).replace("''", "'").strip().lower()
            out[name] = self._CSV_TYPES.get(typ, typ)
        if not out:
            raise LakeSQLError("columns/types struct is empty")
        return out

    def _rewrite_mv_at(self, q: str) -> str:
        """Time-travel reads of a MATERIALIZED VIEW go through the rollup
        read face too: ``mv AT (VERSION => n)`` binds read_rollup at that
        version (avg columns included), matching current-version reads.
        Non-MV names are left for the catalog's generic AT rewrite."""
        from .rollup import _meta_name, read_rollup

        ts = set(self.c.tables())

        def _rw(m: "re.Match") -> str:
            tname, kind, val = m.group(1), m.group(2).upper(), m.group(3)
            if not (tname in ts and _meta_name(tname) in ts):
                return m.group(0)
            if kind == "VERSION":
                v = int(val)
            else:
                v = self.c._resolve_version(timestamp=val.strip().strip("'\""))
            view = f"{tname}__at_v{v}"
            read_rollup(self.c, tname, version=v).createOrReplaceTempView(
                view
            )
            return view

        # literal-aware, like catalog._rewrite_at: a clause inside a
        # string literal is data; a real clause's payload may hold one
        pat = re.compile(
            rf"\b({_IDENT})\s+AT\s*\(\s*(VERSION|TIMESTAMP)\s*=>\s*([^)]+)\)",
            re.I,
        )
        out, i = [], 0
        while True:
            m = self._search_nonliteral(pat, q, i)
            if m is None:
                out.append(q[i:])
                return "".join(out)
            out.append(q[i: m.start()])
            out.append(_rw(m))
            i = m.end()

    def _bind_tables(self, version=None) -> None:
        """Register every table as a temp view for Catalyst resolution —
        snapshot-isolated inside an open txn (base version + staged
        overlays, dropped tables unregistered)."""
        if self._tx is not None and version is None:
            self.c.bind(self._tx.base_version)
            for nm, st in list(self._tx._states.items()):
                if st.dropped:
                    self.c.spark.catalog.dropTempView(nm)
                else:
                    self.c._build_df(
                        st.files, st.inlined, st.schemas, st.schema
                    ).createOrReplaceTempView(nm)
        else:
            self.c.bind(version)
            # materialized views read through the rollup face (avg cols);
            # inside an open txn the raw stored state binds instead (MV
            # DDL/refresh is refused in-txn, so the staged overlay can
            # never contain MV state this would need to reflect)
            self._mv_overlay(version)

    def _rewrite_meta_fns(self, q: str) -> str:
        """The reference's metadata table functions (``ducklake_snapshots(db)``
        utils/ducklake_utils.py:58-62, ``ducklake_table_info(db)``
        exploration/ducklake_analysis.sh:105, ``ducklake_table_changes(db,
        schema, t, v1, v2)`` utils/ducklake_utils.py:65-78) -> temp views
        materialized from the catalog DB (driver-side metadata, no scan)."""
        spark = self.c.spark

        def _cat_for(dbarg: str):
            """The db argument of the reference's metadata functions
            (``ducklake_snapshots('lake')``): an ATTACH'd alias resolves
            to that catalog (r12); anything else — including the bound
            catalog's own mount alias — is the bound catalog."""
            key = dbarg.strip().strip("'\"").lower()
            dex = self._resolve(key) or self
            return dex.c, (key if dex is not self else "main")

        def _snaps(m: "re.Match") -> str:
            cat, key = _cat_for(m.group(1))
            view = f"__lake_snapshots_{key}"
            cat.snapshots_df().createOrReplaceTempView(view)
            return view

        q = re.sub(
            r"\bducklake_snapshots\s*\(([^)]*)\)", _snaps, q, flags=re.I
        )

        def _tinfo(m: "re.Match") -> str:
            cat, key = _cat_for(m.group(1))
            rows = [
                (
                    t["table_name"],
                    t["file_count"],
                    t["row_count"],
                    t["file_bytes"],
                    t["inlined_rows"],
                )
                for t in cat.table_info()
            ]
            view = f"__lake_table_info_{key}"
            spark.createDataFrame(
                rows,
                "table_name string, file_count bigint, row_count bigint, "
                "file_bytes bigint, inlined_rows bigint",
            ).createOrReplaceTempView(view)
            return view

        q = re.sub(
            r"\bducklake_table_info\s*\(([^)]*)\)", _tinfo, q, flags=re.I
        )

        def _changes(m: "re.Match") -> str:
            args = [a.strip().strip("'\"") for a in m.group(1).split(",")]
            cat, key = _cat_for(args[0] if len(args) > 3 else "")
            tname, v1, v2 = args[-3], int(args[-2]), int(args[-1])
            view = f"__lake_changes_{key}_{tname}_{v1}_{v2}"
            cat.table_changes(tname, v1, v2).createOrReplaceTempView(view)
            return view

        q = re.sub(
            r"\bducklake_table_changes\s*\(([^)]*)\)", _changes, q, flags=re.I
        )

        def _file_stats(m: "re.Match") -> str:
            # per-file pruning stats, min/max flattened to JSON strings so
            # the row shape is SQL-stable across schemas
            import json as _json

            tname = m.group(1).strip().strip("'\"")
            rows = [
                (
                    f["path"],
                    int(f["row_count"]),
                    int(f["file_bytes"]),
                    _json.dumps(
                        {c: s["min"] for c, s in f["columns"].items()}
                    ),
                    _json.dumps(
                        {c: s["max"] for c, s in f["columns"].items()}
                    ),
                )
                for f in self.c.file_stats(tname)
            ]
            # table names are user-supplied and may contain characters
            # that are not legal in a temp-view identifier (dots, dashes,
            # quoted names); sanitize, and suffix with a hash of the raw
            # name so distinct tables never collide post-sanitization
            safe = re.sub(r"[^A-Za-z0-9_]", "_", tname)
            tag = hashlib.md5(tname.encode()).hexdigest()[:8]
            view = f"__lake_file_stats_{safe}_{tag}"
            spark.createDataFrame(
                rows,
                "path string, row_count bigint, file_bytes bigint, "
                "col_min string, col_max string",
            ).createOrReplaceTempView(view)
            return view

        q = re.sub(
            r"\bducklake_file_stats\s*\(([^)]*)\)", _file_stats, q, flags=re.I
        )
        return q

    def _describe(self, name: str) -> DataFrame:
        """DuckDB-shaped DESCRIBE: (column_name, column_type, null YES/NO,
        key PRI/null, default, extra) — staged-aware inside an open txn, so
        ALTER TABLE followed by DESCRIBE shows the new column pre-commit
        (the reference demo's exact flow). Describing a MATERIALIZED VIEW
        additionally lists the read face's derived ``avg_<c>`` columns
        (extra = 'derived'): SQL users see every column a SELECT returns."""
        if not self._table_exists(name):
            raise LakeSQLError(f"no such table: {name!r}")
        from .schema import value_from_json

        schema = self._schema_of(name)
        rows = []
        derived = []
        hidden = set()
        if self._mv_exists(name):
            from .rollup import META_REQUIRED_COLS, _meta_name, derived_columns

            # Guard like the read-overlay path above: _mv_exists checks
            # NAMES only, so a huge USER table named X__rollup_meta with a
            # sibling X must never be collected by DESCRIBE X — column
            # shape is DataFrame metadata, the row-count probe is
            # catalog-metadata-only; both run before any collect()
            meta_df = self.c.read(_meta_name(name))
            meta = (
                meta_df.collect()
                if META_REQUIRED_COLS <= set(meta_df.columns)
                and self.c.count(_meta_name(name)) == 1
                else []
            )
            if len(meta) == 1:
                # the read face's contract (rollup.derived_columns): list
                # every column a SELECT returns, hide raw sketch state
                for cname, ctype, hides in derived_columns(meta[0]):
                    derived.append(
                        (cname, ctype, "YES", None, None, "derived")
                    )
                    if hides:
                        hidden.add(hides)
        for f in schema.fields:
            if f.name in hidden:
                continue
            if isinstance(f.default, dict) and "$expr" in f.default:
                dflt = f.default["$expr"]
            elif f.default is not None:
                dflt = str(value_from_json(f.default))
            else:
                dflt = None
            rows.append(
                (
                    f.name,
                    f.type.upper(),
                    "NO" if not f.nullable else "YES",
                    "PRI" if f.name in schema.primary_key else None,
                    dflt,
                    # X2 clustering: writes range-repartition on these
                    # columns so catalog min/max skipping prunes on them
                    "partition key"
                    if f.name in (schema.partition_by or ())
                    else None,
                )
            )
        return self.c.spark.createDataFrame(
            rows + derived,
            "column_name string, column_type string, `null` string, "
            "key string, `default` string, extra string",
        )

    def _schema_of(self, name: str) -> TableSchema:
        if self._tx is not None:
            return self._tx._state(name).schema
        v = self.c.current_version()
        tid, _ = self.c._table_at(name, v)
        schemas = self.c._schemas_at(tid, v)
        return schemas[max(schemas)]

    def _parse_coldefs(self, cols: str) -> TableSchema:
        fields, pk = [], []
        for i, part in enumerate(_split_top(cols)):
            mm = re.match(
                r"^PRIMARY\s+KEY\s*\(([^)]*)\)$", part, re.I
            )  # table-level PK
            if mm:
                pk.extend(c.strip() for c in mm.group(1).split(","))
                continue
            mm = re.match(
                rf"^({_IDENT})\s+([A-Za-z0-9_]+(?:\s*\([^)]*\))?)(.*)$",
                part,
                re.S,
            )
            if not mm:
                raise LakeSQLError(f"bad column definition: {part!r}")
            name, typ, rest = mm.group(1), _map_type(mm.group(2)), mm.group(3)
            nullable = not re.search(r"\bNOT\s+NULL\b", rest, re.I)
            if re.search(r"\bPRIMARY\s+KEY\b", rest, re.I):
                pk.append(name)
                nullable = False
            md = re.search(r"\bDEFAULT\s+('[^']*'|\S+)", rest, re.I)
            default = self._literal(md.group(1)) if md else None
            fields.append(
                Field(len(fields) + 1, name, typ, nullable, default)
            )
        return TableSchema(tuple(fields), tuple(pk))

    _EXPR_DEFAULTS = re.compile(
        r"^(CURRENT_TIMESTAMP|CURRENT_DATE|LOCALTIMESTAMP|"
        r"NOW\(\)|RANDOM\(\)|RAND\(\)|UUID\(\))$",
        re.I,
    )

    def _literal(self, tok: str):
        """DEFAULT clause: literals evaluate once here (DDL time); volatile
        expressions store an {"$expr", "$frozen"} marker so each INSERT
        re-evaluates them (demos/05_catalog_portability/demo.py:224 —
        created_at DEFAULT CURRENT_TIMESTAMP must differ between writes)
        while rows predating the column read the DDL-time frozen value."""
        from .schema import value_to_json

        row = self.c.spark.sql(f"SELECT {tok} AS v").first()
        if self._EXPR_DEFAULTS.match(tok.strip()):
            return {"$expr": tok.strip(), "$frozen": value_to_json(row["v"])}
        return value_to_json(row["v"])

    def _status(self, op: str, rows: int) -> DataFrame:
        return self.c.spark.createDataFrame(
            [(op, int(rows))], "op string, rows bigint"
        )


def _tx_op(fn):
    """A handler running ``fn(tx, m)`` in the target's transaction."""
    return lambda self, m, dex: dex._run(lambda tx: fn(tx, m))


def _bad_copy(self, m, dex):
    # a malformed COPY must fail IN-BAND, not fall through to _query and
    # surface as an unrelated Catalyst parse error
    raise LakeSQLError(
        "bad COPY statement: expected COPY <table|(subquery)> "
        "TO '<path>' [(FORMAT PARQUET|CSV, HEADER, DELIMITER, "
        "OVERWRITE, PARTITION_BY (cols))] or COPY <table> FROM "
        "'<path>' [(FORMAT PARQUET|CSV, HEADER, DELIMITER)]"
    )


_X = SQLExecutor
_QUOTED = r"'(?P<path>(?:[^']|'')*)'"
# The statement dispatch: (label, pattern, handler, flags), tried in order
# by SQLExecutor._dispatch; the first match handles the statement and
# anything unmatched is a read query. The label names the status row and
# the self-commit refusal. Order matters where patterns overlap:
# MATERIALIZED VIEW before VIEW, CTAS before the column-def CREATE TABLE,
# the qualified CHECKPOINT before the dotless one, COPY TO / FROM before
# the malformed-COPY catch-all.
_VERBS = [
    (label, re.compile(pat, re.I | re.S), handler, flags)
    for label, pat, handler, flags in [
        # transactions (demos/01_transaction_rollback/demo.py:85-104)
        ("BEGIN", r"BEGIN(?:\s+TRANSACTION)?$", _X._begin, 0),
        ("COMMIT", r"COMMIT$", _X._end_txn, 0),
        ("ROLLBACK", r"ROLLBACK$", _X._end_txn, 0),
        # the attach list (demos/05_catalog_portability/demo.py:194-299)
        ("USE", rf"USE\s+(?P<name>{_IDENT})$", _X._use_stmt, _LOCAL),
        (
            "ATTACH",
            rf"ATTACH\s+{_QUOTED}\s+AS\s+(?P<name>{_IDENT})"
            r"\s*(?:\((?P<opts>.*)\))?$",
            _X._attach_stmt,
            _SELF_COMMITS | _LOCAL,
        ),
        (
            "DETACH", rf"DETACH\s+(?P<name>{_IDENT})$", _X._detach_stmt,
            _SELF_COMMITS | _LOCAL,
        ),
        ("SHOW DATABASES", r"SHOW\s+DATABASES$", _X._show_databases, _LOCAL),
        (
            "COPY FROM DATABASE",
            rf"COPY\s+FROM\s+DATABASE\s+(?P<src>{_IDENT})\s+TO\s+"
            rf"(?P<dst>{_IDENT})$",
            _X._copy_database_stmt,
            _MUTATES | _SELF_COMMITS | _LOCAL,
        ),
        # whole-database export / import (file-based portability pair)
        (
            "EXPORT DATABASE",
            rf"EXPORT\s+DATABASE\s+{_QUOTED}\s*"
            r"(?:\(\s*FORMAT\s+(?P<fmt>\w+)\s*\))?$",
            _X._export_database,
            _SELF_COMMITS,
        ),
        (
            "IMPORT DATABASE", rf"IMPORT\s+DATABASE\s+{_QUOTED}$",
            _X._import_database, _MUTATES | _SELF_COMMITS,
        ),
        # materialized views (continuous aggregates, lake/rollup.py)
        (
            "CREATE MATERIALIZED VIEW",
            rf"CREATE\s+(?P<replace>OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW\s+"
            rf"(?P<name>{_IDENT})\s+AS\s+(?P<body>.*)$",
            _X._create_mv,
            _MUTATES | _SELF_COMMITS,
        ),
        (
            "REFRESH MATERIALIZED VIEW",
            rf"REFRESH\s+MATERIALIZED\s+VIEW\s+(?P<name>{_IDENT})$",
            _X._refresh_mv,
            _MUTATES | _SELF_COMMITS,
        ),
        (
            "DROP MATERIALIZED VIEW",
            rf"DROP\s+MATERIALIZED\s+VIEW\s+(?P<ifx>IF\s+EXISTS\s+)?"
            rf"(?P<name>{_IDENT})$",
            _X._drop_mv,
            _MUTATES,
        ),
        # views and tables (demos/03_schema_evolution)
        (
            "CREATE VIEW",
            rf"CREATE\s+(?P<replace>OR\s+REPLACE\s+)?VIEW\s+"
            rf"(?P<name>{_IDENT})\s+AS\s+(?P<body>.*)$",
            _X._create_view,
            _MUTATES,
        ),
        (
            "DROP VIEW",
            rf"DROP\s+VIEW\s+(?P<ifx>IF\s+EXISTS\s+)?(?P<name>{_IDENT})$",
            _X._drop_view,
            _MUTATES,
        ),
        (
            "CREATE TABLE AS",
            rf"CREATE\s+(?P<replace>OR\s+REPLACE\s+)?TABLE\s+{_T}"
            r"(?:\s+PARTITION\s+BY\s*\((?P<pby>[^()]+)\))?\s+AS\s+"
            r"(?P<body>.*)$",
            _X._ctas,
            _MUTATES,
        ),
        (
            # the lazy coldef group stops before an optional PARTITION BY
            "CREATE TABLE",
            rf"CREATE\s+TABLE\s+(?P<ifnot>IF\s+NOT\s+EXISTS\s+)?{_T}\s*"
            r"\((?P<cols>.*?)\)\s*"
            r"(?:PARTITION\s+BY\s*\((?P<pby>[^()]+)\)\s*)?$",
            _X._create_table,
            _MUTATES,
        ),
        (
            "DROP TABLE",
            rf"DROP\s+TABLE\s+(?P<ifx>IF\s+EXISTS\s+)?{_T}$",
            _X._drop_table,
            _MUTATES,
        ),
        (
            "ALTER TABLE",
            rf"ALTER\s+TABLE\s+{_T}\s+ADD\s+COLUMN\s+(?P<col>{_IDENT})\s+"
            r"(?P<typ>[A-Za-z0-9_]+(?:\s*\([^)]*\))?)"
            r"(?:\s+DEFAULT\s+(?P<dflt>.+?))?$",
            _X._add_column,
            _MUTATES,
        ),
        (
            "ALTER TABLE",
            rf"ALTER\s+TABLE\s+{_T}\s+DROP\s+COLUMN\s+(?P<col>{_IDENT})$",
            _tx_op(lambda tx, m: tx.drop_column(m["name"], m["col"])),
            _MUTATES,
        ),
        (
            "ALTER TABLE",
            rf"ALTER\s+TABLE\s+{_T}\s+RENAME\s+COLUMN\s+(?P<col>{_IDENT})"
            rf"\s+TO\s+(?P<new>{_IDENT})$",
            _tx_op(
                lambda tx, m: tx.rename_column(m["name"], m["col"], m["new"])
            ),
            _MUTATES,
        ),
        (
            "ALTER TABLE",
            rf"ALTER\s+TABLE\s+{_T}\s+ALTER\s+COLUMN\s+(?P<col>{_IDENT})\s+"
            r"SET\s+NOT\s+NULL$",
            _tx_op(lambda tx, m: tx.set_not_null(m["name"], m["col"])),
            _MUTATES,
        ),
        (
            # SET/RESET — metadata-only spec edits (X2 clustering)
            "ALTER TABLE",
            rf"ALTER\s+TABLE\s+{_T}\s+(?:SET\s+PARTITIONED\s+BY\s*"
            r"\((?P<cols>[^()]*)\)|RESET\s+PARTITIONED\s+BY)\s*$",
            _tx_op(
                lambda tx, m: tx.set_partition_by(
                    m["name"], _col_list(m["cols"])
                )
            ),
            _MUTATES,
        ),
        (
            # CALL optimize applies the z-order spec, compact() re-applies
            "ALTER TABLE",
            rf"ALTER\s+TABLE\s+{_T}\s+(?:SET\s+ZORDER\s+BY\s*"
            r"\((?P<cols>[^()]*)\)|RESET\s+ZORDER\s+BY)\s*$",
            _tx_op(
                lambda tx, m: tx.set_zorder_by(m["name"], _col_list(m["cols"]))
            ),
            _MUTATES,
        ),
        (
            # widening casts only — the reference's "change data types"
            # claim, README.md:50; old files cast at read time
            "ALTER TABLE",
            rf"ALTER\s+TABLE\s+{_T}\s+ALTER\s+COLUMN\s+(?P<col>{_IDENT})\s+"
            r"(?:SET\s+DATA\s+)?TYPE\s+"
            r"(?P<typ>[A-Za-z0-9_]+(?:\s*\([^)]*\))?)$",
            _tx_op(
                lambda tx, m: tx.alter_column_type(
                    m["name"], m["col"], _map_type(m["typ"])
                )
            ),
            _MUTATES,
        ),
        # introspection
        (
            "SUMMARIZE", r"SUMMARIZE\s+(?P<body>.+)$", _X._summarize_stmt, 0,
        ),
        (
            "DESCRIBE",
            rf"(?:DESCRIBE|DESC)\s+{_T}$",
            _X._describe_table,
            0,
        ),
        (
            "DESCRIBE",
            r"(?:DESCRIBE|DESC)\s+(?P<body>(?:SELECT|WITH|FROM)\b.*)$",
            _X._describe_query,
            0,
        ),
        (
            "PRAGMA",
            rf"PRAGMA\s+table_info\s*\(\s*'?{_T}'?\s*\)$",
            _X._describe_table,
            0,
        ),
        (
            "SHOW TABLES",
            r"(?:SHOW\s+TABLES|PRAGMA\s+show_tables)$",
            _X._show_tables,
            0,
        ),
        # DML (demo 01:58-102, demos/02_time_travel)
        (
            "CHECKPOINT",
            rf"CHECKPOINT(?:\s+(?P<cat>{_IDENT})\s*\.\s*"
            rf"(?P<name>{_IDENT}))?$",
            _X._checkpoint,
            _MUTATES,
        ),
        (
            "CHECKPOINT", rf"CHECKPOINT\s+(?P<name>{_IDENT})$",
            _X._checkpoint_name, 0,
        ),
        (
            "INSERT",
            r"INSERT\s+(?:OR\s+(?P<mode>REPLACE|IGNORE)\s+)?INTO\s+"
            rf"{_T}\s*(?P<body>.*)$",
            _X._insert,
            _MUTATES,
        ),
        (
            "UPDATE", rf"UPDATE\s+{_T}\s+SET\s+(?P<body>.*)$", _X._update,
            _MUTATES,
        ),
        (
            "DELETE",
            rf"DELETE\s+FROM\s+{_T}(?:\s+WHERE\s+(?P<where>.*))?$",
            _X._delete,
            _MUTATES,
        ),
        (
            # DuckDB's spelling of the full-table DELETE: the engine's
            # no-WHERE delete is metadata-only (files marked removed)
            "TRUNCATE",
            rf"TRUNCATE\s+(?:TABLE\s+)?{_T}$",
            _tx_op(lambda tx, m: tx.delete(m["name"], None)),
            _MUTATES,
        ),
        (
            "MERGE",
            r"MERGE\s+(?P<evolve>WITH\s+SCHEMA\s+EVOLUTION\s+)?INTO\s+"
            rf"{_T}(?P<rest>.*)$",
            _X._merge_stmt,
            _MUTATES,
        ),
        # maintenance procedures: each resolves its own target
        (
            "CALL",
            rf"CALL\s+(?P<fn>{_IDENT})\s*\((?P<args>.*)\)$",
            _X._call_stmt,
            _SELF_COMMITS,
        ),
        # COPY TO writes external files, which no transaction covers;
        # COPY FROM is an INSERT through the normal transactional path
        (
            "COPY",
            rf"COPY\s+(?P<src>\(.*\)|{_IDENT})\s+TO\s+{_QUOTED}"
            r"\s*(?:\(\s*(?P<opts>.*?)\s*\))?$",
            _X._copy_stmt,
            _SELF_COMMITS,
        ),
        (
            "COPY",
            rf"COPY\s+(?P<name>{_IDENT})\s+FROM\s+{_QUOTED}"
            r"\s*(?:\(\s*(?P<opts>.*?)\s*\))?$",
            _X._copy_from_stmt,
            _MUTATES,
        ),
        ("COPY", r"COPY\b", _bad_copy, 0),
    ]
]

"""Delta-style SQL statements over versioned lake tables.

Spark SQL itself covers every read-side statement once relations are
registered as views (``plans/sql_api.py``), but the WRITE-side
statements Delta users type — UPDATE / DELETE / MERGE INTO / RESTORE /
OPTIMIZE / VACUUM / DESCRIBE HISTORY — have no Catalyst hook without a
catalog plugin (no delta-spark in this environment). This module is
that front end: a deliberately CONSTRAINED statement grammar parsed
with depth-aware string scanning and dispatched onto
:class:`~jde_to_datalake_spark.sources.versioned.VersionedTable`
methods, so a pipeline can speak SQL end-to-end against the lake.

Supported statements (keywords case-insensitive; one statement per
call; expressions inside SET/WHERE/AND pass through verbatim to
Spark's ``expr`` and may use any Spark SQL function):

- ``SELECT ... FROM <t> [VERSION AS OF n | TIMESTAMP AS OF 'ts'] ...``
  — any SELECT; registered lake tables are exposed as temp views at
  their LATEST version, and a ``VERSION/TIMESTAMP AS OF`` suffix after
  a lake-table reference time-travels that reference.
- ``UPDATE <t> SET col = expr [, ...] [WHERE pred]``
- ``DELETE FROM <t> [WHERE pred]``
  — both infer footer-stat prune ranges from the predicate's simple
  top-level conjuncts (``col op literal`` / BETWEEN), so targeted DML
  on a clustered or partitioned table scans a file subset
- ``MERGE INTO <t> [AS] a USING <view|(subquery)> [AS] b
  ON a.k = b.k
  [WHEN MATCHED [AND c] THEN UPDATE SET {* | col = expr, ...}]
  [WHEN MATCHED [AND c] THEN DELETE]
  [WHEN NOT MATCHED [AND c] THEN INSERT *]
  [WHEN NOT MATCHED BY SOURCE [AND c] THEN {DELETE | UPDATE SET ...}]``
  — clause order is first-match-wins, exactly
  ``VersionedTable.merge_into``; the ON condition is one or more
  AND-ed same-named key equalities (a composite key; the
  partial-rewrite contract per column).
- ``INSERT INTO <t> <select-statement>``
- ``DESCRIBE HISTORY <t>`` / ``DESCRIBE DETAIL <t>``
- ``RESTORE TABLE <t> TO VERSION AS OF n`` (or TIMESTAMP AS OF)
- ``OPTIMIZE <t> [WHERE pred] [ZORDER BY (a[, b ...])]
  [TARGET SIZE n MB]`` — WHERE bounds the rewrite to the files whose
  footer stats overlap the predicate (partition-scoped maintenance)
- ``VACUUM <t> [RETAIN n HOURS] [DRY RUN]``
- ``ALTER TABLE <t> RENAME COLUMN a TO b`` / ``DROP COLUMN a`` /
  ``ADD CONSTRAINT name CHECK (pred)`` / ``DROP CONSTRAINT name`` /
  ``ADD COLUMN c GENERATED ALWAYS AS (expr)``
- ``CREATE TABLE <name> LOCATION '<path>' [PARTITIONED BY (a, b)]
  [AS <select>]`` — register (or CTAS-create) a versioned table at a
  filesystem location; PARTITIONED BY establishes a hive layout
- ``CONVERT TO VERSIONED '<path>' AS <name> [PARTITIONED BY (a, b)]``
  — adopt an existing plain-parquet directory metadata-only (Delta's
  CONVERT TO DELTA [PARTITIONED BY]; hive ``k=v`` layouts adopt with
  partition values recorded as file-skipping stats)
- ``SHOW TABLES`` / ``SHOW PARTITIONS <t>`` (metadata-only — the
  partition values come from the manifest's constant file stats)

Every statement returns a DataFrame: SELECT/DESCRIBE return their
relation; DML/maintenance return a one-row ``(version)`` frame (the
published version), mirroring how Delta surfaces commit results.

Unsupported SQL (multi-statement scripts, INSERT VALUES lists,
non-equi MERGE conditions, UPDATE with FROM) raises ``ValueError``
naming the constraint rather than mis-executing.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession

from jde_to_datalake_spark.sources.versioned import VersionedTable

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"


def _split_top(s: str, sep: str = ",") -> "list[str]":
    """Split at depth-0 separators (parens, single quotes, backticks
    respected)."""
    out, buf, depth, quote = [], [], 0, None
    for ch in s:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in ("'", "`"):
            quote = ch
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == sep and depth == 0:
            out.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    out.append("".join(buf))
    return [p.strip() for p in out if p.strip()]


def _find_kw_top(s: str, kw: str) -> int:
    """Index of the first depth-0, unquoted, word-bounded occurrence
    of keyword ``kw`` (case-insensitive), or -1."""
    depth, quote, i, n, k = 0, None, 0, len(s), len(kw)
    up = s.upper()
    while i < n:
        ch = s[i]
        if quote:
            if ch == quote:
                quote = None
        elif ch in ("'", "`"):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and up.startswith(kw, i):
            before_ok = i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_")
            j = i + k
            after_ok = j >= n or not (s[j].isalnum() or s[j] == "_")
            if before_ok and after_ok:
                return i
        i += 1
    return -1


def _alias_rewrite(expr: str, mapping: "dict[str, str]") -> str:
    """Rewrite ``alias.`` qualifiers to the canonical ``t.``/``s.``
    aliases ``merge_into`` resolves against (word-bounded, outside
    quotes).

    Single-pass: one alternation regex with a per-match callback, so a
    user alias that collides with a canonical alias (e.g. source
    aliased ``t`` while the target maps to ``t``) is rewritten exactly
    once — chained substitutions would re-rewrite the first pass's
    output and silently point target references at the source.
    """
    live = {old: new for old, new in mapping.items() if old != new}
    if not live:
        return expr
    alt = "|".join(re.escape(o) for o in sorted(live, key=len, reverse=True))
    return re.sub(
        rf"(?<![A-Za-z0-9_`])({alt})\s*\.",
        lambda m: f"{live[m.group(1)]}.",
        expr,
    )


def _literal_value(tok: str):
    """Parse a SQL literal token to the python value footer stats
    store: numbers, quoted strings, DATE/TIMESTAMP 'iso' (stats keep
    temporals as CANONICAL ``isoformat()`` strings — 'T' separator,
    aware values normalized to naive UTC). None = not a recognizable
    literal.

    DATE/TIMESTAMP bodies are therefore re-rendered through
    ``datetime.fromisoformat`` rather than kept raw: the SQL-standard
    space separator ("2024-06-30 23:59:59") sorts BEFORE the stats'
    'T' separator, so a raw body would wrongly prune files whose min
    timestamp shares the bound's date. An untagged quoted string that
    itself looks like a space-separated datetime is AMBIGUOUS (string
    column stats store it verbatim; timestamp stats store the 'T'
    form) — return None so the caller scans rather than mis-prunes.
    """
    import datetime as _dt

    tok = tok.strip()
    m = re.fullmatch(r"(DATE|TIMESTAMP)\s*'([^']*)'", tok, re.IGNORECASE)
    if m:
        tag, body = m.group(1).upper(), m.group(2).strip()
        try:
            if tag == "DATE":
                return _dt.date.fromisoformat(body).isoformat()
            v = _dt.datetime.fromisoformat(body)
            if v.tzinfo is not None:
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return v.isoformat()
        except ValueError:
            return None  # unparseable temporal: no usable bound
    m = re.fullmatch(r"'([^']*)'", tok)
    if m:
        body = m.group(1)
        if " " in body:
            try:
                _dt.datetime.fromisoformat(body)
                return None  # datetime-looking untagged string: ambiguous
            except ValueError:
                pass
        return body
    try:
        return int(tok)
    except ValueError:
        pass
    try:
        return float(tok)
    except ValueError:
        return None


def _infer_prune_ranges(pred: str) -> "dict | None":
    """Footer-stat ranges IMPLIED by a WHERE predicate — the
    conjunct-wise sound subset: each top-level AND term of the form
    ``col op literal`` (op in = >= <= > <, either side) or ``col
    BETWEEN a AND b`` contributes a bound; unparseable conjuncts are
    ignored (they only restrict rows further, so the parsed ranges
    stay implied). Strict bounds widen to inclusive (conservative).
    Returns None when nothing usable parses — the caller then scans
    all candidates, exactly as before."""
    # a depth-0 OR makes the top level a DISJUNCTION: SQL's AND binds
    # tighter, so naive AND-splitting would extract "conjuncts" that
    # the predicate does NOT imply (a = 1 OR b = 2 AND c = 3 implies
    # nothing about c). Parenthesized ORs are fine — the whole paren
    # term is simply unparseable and ignored.
    if _find_kw_top(pred, "OR") >= 0:
        return None
    # the BETWEEN rewrite below is regex-based and not quote-aware;
    # a string literal containing the word is a poisoned input — bail
    # (conservative: caller scans all candidates)
    for lit_m in re.finditer(r"'([^']*)'", pred):
        if re.search(r"\bBETWEEN\b", lit_m.group(1), re.IGNORECASE):
            return None
    # BETWEEN participates in AND-splitting — rewrite it first
    _blit = r"(?:(?:DATE|TIMESTAMP)\s*)?'[^']*'|-?[0-9.]+"
    pred = re.sub(
        rf"(`?{_IDENT}`?)\s+BETWEEN\s+({_blit})\s+AND\s+({_blit})",
        r"\1 >= \2 AND \1 <= \3",
        pred,
        flags=re.IGNORECASE,
    )
    # split top-level ANDs (depth-0, quote-aware)
    terms, rest = [], pred
    while True:
        i = _find_kw_top(rest, "AND")
        if i < 0:
            terms.append(rest)
            break
        terms.append(rest[:i])
        rest = rest[i + 3:]
    ranges: dict = {}
    poisoned = [False]

    def _fold(col: str, lo, hi):
        cur_lo, cur_hi = ranges.get(col, (None, None))
        try:
            if lo is not None:
                cur_lo = lo if cur_lo is None else max(cur_lo, lo)
            if hi is not None:
                cur_hi = hi if cur_hi is None else min(cur_hi, hi)
        except TypeError:
            # two conjuncts bound the same column with incomparable
            # literal types (k > 5 AND k > '9'): no sound fold exists —
            # return no ranges so the caller scans all candidates
            # instead of crashing the statement
            poisoned[0] = True
            return
        ranges[col] = (cur_lo, cur_hi)

    lit = r"(?:DATE\s*'[^']*'|TIMESTAMP\s*'[^']*'|'[^']*'|-?[0-9.]+)"
    for t in terms:
        t = t.strip()
        m = re.fullmatch(
            rf"`?({_IDENT})`?\s*(=|>=|<=|>|<)\s*({lit})", t
        ) or re.fullmatch(
            rf"({lit})\s*(=|>=|<=|>|<)\s*`?({_IDENT})`?", t
        )
        if not m:
            continue
        g = m.groups()
        if re.fullmatch(_IDENT, g[0] or ""):
            col, op, tok = g
        else:
            tok, op, col = g
            op = {">": "<", "<": ">", ">=": "<=", "<=": ">="}.get(op, op)
        v = _literal_value(tok)
        if v is None:
            continue
        if op == "=":
            _fold(col, v, v)
        elif op in (">=", ">"):
            _fold(col, v, None)
        else:
            _fold(col, None, v)
    if poisoned[0]:
        return None
    return ranges or None


class LakeSQL:
    """SQL statement dispatcher over registered versioned tables.

    ``store_factory`` (optional) makes the STATEMENT surface
    object-store-capable: a callable ``path -> {"log_store": ...,
    "data_store": ...}`` (any subset) whose results are injected into
    every table this session constructs from a ``LOCATION`` path
    (``CREATE TABLE``, ``CONVERT TO VERSIONED``). Pre-built tables
    arrive with their seams already bound via :meth:`register`;
    without a factory, path construction keeps the POSIX default —
    exactly :class:`VersionedTable`'s own behavior."""

    def __init__(self, spark: SparkSession, store_factory=None):
        self.spark = spark
        self.tables: "dict[str, VersionedTable]" = {}
        self.store_factory = store_factory

    def _stores(self, path: str) -> dict:
        return dict(self.store_factory(path)) if self.store_factory else {}

    def register(self, name: str, table: VersionedTable) -> None:
        if not re.fullmatch(_IDENT, name):
            raise ValueError(f"invalid table name: {name!r}")
        self.tables[name] = table

    # -- public entry -----------------------------------------------------
    def sql(self, statement: str) -> DataFrame:
        st = statement.strip().rstrip(";").strip()
        head = st.split(None, 1)[0].upper() if st else ""
        if head == "SELECT" or head == "WITH":
            return self._select(st)
        if head == "UPDATE":
            return self._update(st)
        if head == "DELETE":
            return self._delete(st)
        if head == "MERGE":
            return self._merge(st)
        if head == "INSERT":
            return self._insert(st)
        if head == "DESCRIBE":
            return self._describe(st)
        if head == "RESTORE":
            return self._restore(st)
        if head == "OPTIMIZE":
            return self._optimize(st)
        if head == "VACUUM":
            return self._vacuum(st)
        if head == "ALTER":
            return self._alter(st)
        if head == "CREATE":
            return self._create(st)
        if head == "CONVERT":
            return self._convert(st)
        if head == "SHOW":
            return self._show(st)
        raise ValueError(f"unsupported statement: {st[:60]!r}")

    # -- helpers ------------------------------------------------------------
    def _table(self, name: str) -> VersionedTable:
        t = self.tables.get(name)
        if t is None:
            raise ValueError(
                f"unknown lake table {name!r} (registered: "
                f"{sorted(self.tables)})"
            )
        return t

    def _version_df(self, version) -> DataFrame:
        return self.spark.createDataFrame(
            [(None if version is None else int(version),)], "version bigint"
        )

    def _refresh_views(self, statement: "str | None" = None) -> None:
        """(Re-)register the temp views a statement needs.

        With a statement given, only tables whose name appears as a
        word token in it are refreshed — rebuilding EVERY registered
        table's view per SELECT is O(registered tables) per query
        (a manifest reconstruction + temp-view swap each), wasteful at
        hundreds of tables. String literals and ``--`` line comments
        are stripped BEFORE the token scan, so a table name mentioned
        inside one no longer forces a spare refresh. The strip must
        lex ALL THREE quote styles in one left-to-right pass — Spark
        SQL treats double quotes as string literals too (default
        ``doubleQuotedIdentifiers`` off), and handling only one style
        would let an apostrophe inside a ``"..."`` literal open a
        phantom span that swallows a REAL table reference (an
        under-approximation = a stale read, strictly worse than the
        spare refresh this optimization saves). Backtick-quoted
        IDENTIFIERS are lexed as spans too — so a ``--`` or stray
        quote inside one (``SELECT x AS `a--b` FROM orders``) can
        never open a phantom comment/literal that swallows the rest
        of the line — but their INNER TEXT is kept in the scrubbed
        output, because a backticked span may BE a lake-table
        reference (``FROM `orders```) and dropping it would
        under-approximate; residual fragments only ever
        over-approximate (a spare refresh). With
        ``spark.sql.ansi.doubleQuotedIdentifiers`` enabled on the
        session — which only takes effect when
        ``spark.sql.ansi.enabled`` is also true, so both are checked —
        ``"..."`` spans are identifiers, not literals, and
        their inner text is kept the same way. Backslash escapes and
        ``''``/``""``/`` `` `` doubling are consumed inside a span so
        an escaped closing quote cannot end it early. Any residual
        over-approximation (a table name used as a column alias)
        still only costs a refresh, never a stale read."""
        if statement is None:
            refs = None
        else:
            def _conf_true(key: str) -> bool:
                # no-default get: a passed default would mask the
                # session's EFFECTIVE value for registered confs
                try:
                    v = self.spark.conf.get(key)
                except Exception:  # noqa: BLE001 — unknown conf: off
                    return False
                return (v or "").lower() == "true"

            # doubleQuotedIdentifiers only takes effect under ANSI
            # mode — with dq=true but ansi off, "..." spans are STILL
            # string literals, so treating them as identifiers here
            # would keep literal text in the scrub (over-approximation
            # only: a table name inside such a literal costs a spare
            # view refresh, never a stale read — but don't pay it)
            dq_idents = _conf_true(
                "spark.sql.ansi.doubleQuotedIdentifiers"
            ) and _conf_true("spark.sql.ansi.enabled")

            def _strip(m: "re.Match") -> str:
                s = m.group(0)
                if s.startswith("`"):
                    return f" {s[1:-1]} "  # identifier: keep its text
                if s.startswith('"') and dq_idents:
                    return f" {s[1:-1]} "
                return " "  # literal or comment: drop

            scrubbed = re.sub(
                r"`(?:[^`]|``)*`"
                r"|'(?:[^'\\]|\\.|'')*'"
                r'|"(?:[^"\\]|\\.|"")*"'
                r"|--[^\n]*",
                _strip,
                statement,
            )
            refs = set(re.findall(rf"\b{_IDENT}\b", scrubbed))
        for name, t in self.tables.items():
            if refs is not None and name not in refs:
                continue
            if t.latest_version() is not None:
                t.read(self.spark, merge_schema=True).createOrReplaceTempView(
                    name
                )

    # -- statements -----------------------------------------------------
    def _select(self, st: str) -> DataFrame:
        # time travel: FROM/JOIN <lake table> VERSION|TIMESTAMP AS OF x
        # unquoted literals must be space-free (epoch seconds or
        # compact ISO) — a spacey ISO stamp needs quotes; letting the
        # class eat a space would also glue the replacement view name
        # onto the next keyword
        pat = re.compile(
            rf"\b(FROM|JOIN)\s+({_IDENT})\s+"
            rf"(VERSION|TIMESTAMP)\s+AS\s+OF\s+('[^']*'|[0-9][0-9.\-:T]*)",
            re.IGNORECASE,
        )
        counter = [0]

        def _sub(m):
            kw, name, mode, lit = m.groups()
            t = self._table(name)
            if mode.upper() == "VERSION":
                df = t.read(self.spark, int(lit), merge_schema=True)
            else:
                # the unquoted-literal class includes space (ISO dates
                # with a time part) so a trailing clause leaves one:
                # strip BEFORE classifying or fromisoformat chokes
                ts = lit.strip().strip("'").strip()
                ts = float(ts) if re.fullmatch(r"[0-9.]+", ts) else ts
                df = t.read(
                    self.spark, as_of_timestamp=ts, merge_schema=True
                )
            counter[0] += 1
            view = f"__{name}_asof_{counter[0]}"
            df.createOrReplaceTempView(view)
            return f"{kw} {view}"

        rewritten = pat.sub(_sub, st)
        # scan the ORIGINAL statement: a time-traveled reference was
        # just materialized above, but the same table may also appear
        # at latest elsewhere in the query
        self._refresh_views(st)
        return self.spark.sql(rewritten)

    def _update(self, st: str) -> DataFrame:
        m = re.match(rf"UPDATE\s+({_IDENT})\s+SET\s+", st, re.IGNORECASE)
        if not m:
            raise ValueError("expected: UPDATE <table> SET ... [WHERE ...]")
        t = self._table(m.group(1))
        rest = st[m.end():]
        w = _find_kw_top(rest, "WHERE")
        set_part, pred = (
            (rest[:w], rest[w + 5:]) if w >= 0 else (rest, "true")
        )
        assignments = {}
        for item in _split_top(set_part):
            eq = item.find("=")
            if eq <= 0:
                raise ValueError(f"bad SET item: {item!r}")
            col = item[:eq].strip().strip("`")
            assignments[col] = item[eq + 1:].strip()
        return self._version_df(
            t.update_where(
                self.spark,
                assignments,
                pred.strip(),
                # stats pruning implied by the predicate's simple
                # conjuncts — on a clustered/partitioned table the
                # matching scan reads a file subset, Delta's own
                # UPDATE-with-predicate economics
                prune_ranges=_infer_prune_ranges(pred),
            )
        )

    def _delete(self, st: str) -> DataFrame:
        m = re.match(
            rf"DELETE\s+FROM\s+({_IDENT})(?:\s+WHERE\s+(.*))?$",
            st,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError("expected: DELETE FROM <table> [WHERE ...]")
        t = self._table(m.group(1))
        pred = (m.group(2) or "true").strip()
        return self._version_df(
            t.delete_where(
                self.spark,
                pred,
                prune_ranges=(
                    _infer_prune_ranges(pred) if m.group(2) else None
                ),
            )
        )

    def _insert(self, st: str) -> DataFrame:
        m = re.match(
            rf"INSERT\s+INTO\s+({_IDENT})\s+(SELECT\b.*|WITH\b.*)$",
            st,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(
                "expected: INSERT INTO <table> SELECT ... "
                "(VALUES lists are not supported)"
            )
        t = self._table(m.group(1))
        self._refresh_views(m.group(2))
        # one computation for the castability probe AND the write: a
        # nondeterministic SELECT must not pass validation on one
        # sample and insert another, and a deterministic one should
        # not run twice
        batch = self.spark.sql(m.group(2)).localCheckpoint(eager=False)
        if t.latest_version() is not None:
            # Delta's INSERT semantics: align by NAME and implicitly
            # cast to the table's column types (a bare `SELECT 4`
            # literal is INT; committing it raw would wedge a BIGINT
            # column's schema merge). Extra columns pass through as
            # schema evolution; absent table columns are simply not
            # written (older files already read them as NULL).
            from pyspark.sql import functions as F

            target = {
                f.name: f.dataType
                for f in t.read(self.spark, merge_schema=True).schema.fields
            }
            # Delta's store assignment is ANSI: an incompatible value
            # FAILS the insert rather than becoming NULL. Validate with
            # try_cast (null-on-failure regardless of the session's
            # ANSI setting) so any non-null value the cast cannot
            # represent aborts the statement with a clean error before
            # anything commits — whether the session would have thrown
            # mid-write (ANSI on) or silently inserted NULL (ANSI off).
            lossy = [
                c
                for c in batch.columns
                if c in target and batch.schema[c].dataType != target[c]
            ]
            if lossy:
                nulled = batch.select(
                    *[
                        F.sum(
                            F.when(
                                F.col(c).isNotNull()
                                & F.col(c)
                                .try_cast(target[c])
                                .isNull(),
                                1,
                            ).otherwise(0)
                        ).alias(c)
                        for c in lossy
                    ]
                ).first()
                bad = {c: int(nulled[c] or 0) for c in lossy if nulled[c]}
                if bad:
                    raise ValueError(
                        "INSERT INTO: value(s) not castable to the table's "
                        f"column type (ANSI store assignment): {bad} "
                        "(column -> offending row count)"
                    )
            batch = batch.select(
                *[
                    F.col(c).cast(target[c]).alias(c)
                    if c in target
                    else F.col(c)
                    for c in batch.columns
                ]
            )
        return self._version_df(t.commit(batch, mode="append"))

    def _merge(self, st: str) -> DataFrame:
        m = re.match(
            rf"MERGE\s+INTO\s+({_IDENT})(?:\s+AS)?(?:\s+({_IDENT}))?\s+USING\s+",
            st,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError("expected: MERGE INTO <table> [AS a] USING ...")
        tname, talias = m.group(1), m.group(2) or "t"
        rest = st[m.end():].strip()
        # source: (subquery) or identifier. The paren scan is
        # quote-aware — a ')' inside a string literal must not close
        # the subquery
        if rest.startswith("("):
            depth, i, quote = 0, 0, None
            for i, ch in enumerate(rest):
                if quote:
                    if ch == quote:
                        quote = None
                    continue
                if ch in ("'", "`"):
                    quote = ch
                    continue
                depth += ch == "("
                depth -= ch == ")"
                if depth == 0:
                    break
            src_sql, rest = rest[1:i], rest[i + 1:].strip()
            self._refresh_views(src_sql)
            source = self.spark.sql(src_sql)
        else:
            sm = re.match(rf"({_IDENT})", rest)
            if not sm:
                raise ValueError("MERGE: missing source relation")
            sname = sm.group(1)
            rest = rest[sm.end():].strip()
            if sname in self.tables:
                source = self._table(sname).read(self.spark)
            else:
                source = self.spark.table(sname)
        am = re.match(rf"(?:AS\s+)?({_IDENT})\s+ON\s+", rest, re.IGNORECASE)
        if am and am.group(1).upper() != "ON":
            salias = am.group(1)
            rest = rest[am.end():]
        else:
            salias = "s"
            om = re.match(r"ON\s+", rest, re.IGNORECASE)
            if not om:
                raise ValueError("MERGE: missing ON condition")
            rest = rest[om.end():]
        w = _find_kw_top(rest, "WHEN")
        if w < 0:
            raise ValueError("MERGE: no WHEN clause")
        on_cond, clauses_txt = rest[:w].strip(), rest[w:]
        # one or more AND-ed same-named alias-qualified equalities —
        # a composite ON key (the partial-rewrite contract per column)
        key_cols: "list[str]" = []
        for term in re.split(r"\s+AND\s+", on_cond, flags=re.IGNORECASE):
            km = re.fullmatch(
                rf"`?({_IDENT})`?\s*\.\s*`?({_IDENT})`?\s*=\s*"
                rf"`?({_IDENT})`?\s*\.\s*`?({_IDENT})`?",
                term.strip(),
            )
            if not km:
                raise ValueError(
                    "MERGE ON must be AND-ed alias-qualified key "
                    f"equalities (got {term.strip()!r})"
                )
            a1, c1, a2, c2 = km.groups()
            pair = {a1: c1, a2: c2}
            if set(pair) != {talias, salias} or c1 != c2:
                raise ValueError(
                    "each MERGE ON term must equate the SAME key column "
                    f"of the target and source aliases ({talias!r}, "
                    f"{salias!r}); got {term.strip()!r}"
                )
            key_cols.append(c1)
        # a repeated equality term is redundant, not a second key
        key_cols = list(dict.fromkeys(key_cols))
        key = key_cols[0] if len(key_cols) == 1 else key_cols
        amap = {talias: "t", salias: "s"}

        matched, not_matched, nbs = [], [], []
        parts = []
        txt = clauses_txt
        while True:
            nxt = _find_kw_top(txt[4:], "WHEN")
            if nxt < 0:
                parts.append(txt)
                break
            parts.append(txt[: nxt + 4])
            txt = txt[nxt + 4:]
        for clause in parts:
            cm = re.match(
                r"WHEN\s+(NOT\s+MATCHED\s+BY\s+SOURCE|NOT\s+MATCHED"
                r"(?:\s+BY\s+TARGET)?|MATCHED)\s*(?:AND\s+(.*?))?\s*"
                r"THEN\s+(.*)$",
                clause.strip(),
                re.IGNORECASE | re.DOTALL,
            )
            if not cm:
                raise ValueError(f"bad MERGE clause: {clause.strip()[:60]!r}")
            kind = re.sub(r"\s+", " ", cm.group(1).upper())
            cond = (
                _alias_rewrite(cm.group(2).strip(), amap)
                if cm.group(2)
                else None
            )
            action = cm.group(3).strip()
            act_up = action.upper()
            if act_up == "DELETE":
                verb = ("delete", cond)
            elif act_up.startswith("UPDATE"):
                um = re.match(r"UPDATE\s+SET\s+(.*)$", action,
                              re.IGNORECASE | re.DOTALL)
                if not um:
                    raise ValueError(f"bad UPDATE action: {action[:60]!r}")
                body = um.group(1).strip()
                if body == "*":
                    verb = ("update", cond, None)
                else:
                    aset = {}
                    for item in _split_top(body):
                        eq = item.find("=")
                        if eq <= 0:
                            raise ValueError(f"bad SET item: {item!r}")
                        col = item[:eq].strip().strip("`")
                        col = re.sub(rf"^({_IDENT})\.", "", col)
                        aset[col] = _alias_rewrite(item[eq + 1:].strip(), amap)
                    verb = ("update", cond, aset)
            elif act_up.startswith("INSERT"):
                if action.upper().replace(" ", "") != "INSERT*":
                    raise ValueError(
                        "only INSERT * is supported (column lists / "
                        "VALUES are not)"
                    )
                verb = ("insert", cond)
            else:
                raise ValueError(f"bad MERGE action: {action[:60]!r}")
            if kind == "MATCHED":
                if verb[0] == "insert":
                    raise ValueError("WHEN MATCHED cannot INSERT")
                matched.append(verb)
            elif kind in ("NOT MATCHED", "NOT MATCHED BY TARGET"):
                if verb[0] != "insert":
                    raise ValueError("WHEN NOT MATCHED supports INSERT only")
                not_matched.append(verb)
            else:  # NOT MATCHED BY SOURCE
                if verb[0] == "insert":
                    raise ValueError(
                        "WHEN NOT MATCHED BY SOURCE cannot INSERT"
                    )
                nbs.append(verb)
        t = self._table(tname)
        v = t.merge_into(
            self.spark,
            source,
            key,
            matched=matched,
            not_matched=not_matched,
            not_matched_by_source=nbs,
        )
        return self._version_df(v)

    def _describe(self, st: str) -> DataFrame:
        m = re.match(
            rf"DESCRIBE\s+(HISTORY|DETAIL)\s+({_IDENT})$", st, re.IGNORECASE
        )
        if not m:
            raise ValueError("expected: DESCRIBE HISTORY|DETAIL <table>")
        t = self._table(m.group(2))
        if m.group(1).upper() == "HISTORY":
            rows = [
                (
                    h["version"],
                    h["operation"],
                    h["mode"],
                    h["n_files"],
                    h["n_added"],
                    h["n_removed"],
                    float(h["committed_at"]),
                )
                for h in t.history()
            ]
            return self.spark.createDataFrame(
                rows,
                "version bigint, operation string, mode string, "
                "n_files bigint, n_added bigint, n_removed bigint, "
                "committed_at double",
            )
        d = t.detail()
        row = (
            d["location"],
            d["version"],
            d["operation"],
            float(d["committed_at"]),
            d["n_files"],
            d["size_bytes"],
            d["n_rows"],
            d["n_dv_files"],
            d["n_tombstones"],
            json.dumps(d["column_renames"], sort_keys=True),
            json.dumps(d["dropped_columns"]),
            json.dumps(d["constraints"], sort_keys=True),
            json.dumps(d["generated_columns"], sort_keys=True),
            json.dumps(d["partitioned_by"]),
        )
        return self.spark.createDataFrame(
            [row],
            "location string, version bigint, operation string, "
            "committed_at double, n_files bigint, size_bytes bigint, "
            "n_rows bigint, n_dv_files bigint, n_tombstones bigint, "
            "column_renames string, dropped_columns string, "
            "constraints string, generated_columns string, "
            "partitioned_by string",
        )

    def _create(self, st: str) -> DataFrame:
        m = re.match(
            rf"CREATE\s+TABLE\s+({_IDENT})\s+LOCATION\s+'([^']+)'"
            rf"(?:\s+PARTITIONED\s+BY\s*\(([^)]*)\))?"
            rf"(?:\s+AS\s+(SELECT\b.*|WITH\b.*))?$",
            st,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(
                "expected: CREATE TABLE <name> LOCATION '<path>' "
                "[PARTITIONED BY (a, b)] [AS SELECT ...] (column-list "
                "DDL is not supported — the schema comes from the data)"
            )
        name, path, pby_txt, query = m.groups()
        pby = (
            [c.strip().strip("`") for c in pby_txt.split(",")]
            if pby_txt
            else None
        )
        if name in self.tables:
            raise ValueError(f"table {name!r} already registered")
        t = VersionedTable(path, **self._stores(path))
        if pby and not query:
            raise ValueError(
                "CREATE TABLE ... PARTITIONED BY requires AS SELECT "
                "(the layout is established by the first write)"
            )
        if query:
            if t.latest_version() is not None:
                raise ValueError(
                    f"{path}: already a versioned table — CTAS would "
                    "clobber it; register it with CREATE TABLE (no AS) "
                    "or pick a new location"
                )
            self._refresh_views(query)
            t.commit(
                self.spark.sql(query), mode="overwrite", partitioned_by=pby
            )
        self.register(name, t)
        return self._version_df(t.latest_version())

    def _convert(self, st: str) -> DataFrame:
        m = re.match(
            rf"CONVERT\s+TO\s+VERSIONED\s+'([^']+)'\s+AS\s+({_IDENT})"
            rf"(?:\s+PARTITIONED\s+BY\s*\(([^)]*)\))?$",
            st,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(
                "expected: CONVERT TO VERSIONED '<path>' AS <name> "
                "[PARTITIONED BY (a, b)]"
            )
        path, name, pby = m.groups()
        if name in self.tables:
            raise ValueError(f"table {name!r} already registered")
        t = VersionedTable.convert_from_parquet(
            path,
            partitioned_by=(
                [c.strip().strip("`") for c in pby.split(",")]
                if pby
                else None
            ),
            **self._stores(path),
        )
        self.register(name, t)
        return self._version_df(t.latest_version())

    def _show(self, st: str) -> DataFrame:
        pm = re.fullmatch(
            rf"SHOW\s+PARTITIONS\s+({_IDENT})", st, re.IGNORECASE
        )
        if pm:
            t = self._table(pm.group(1))
            pby = t.partitioned_by()
            if not pby:
                raise ValueError(
                    f"{pm.group(1)!r} is not a partitioned table"
                )
            # metadata-only: partition values are per-file constant
            # min=max stats in the manifest — no file is opened
            m = t._manifest(t.latest_version())
            stats = m.get("stats", {})
            # a file with no recorded stat for a partition column is a
            # NULL partition (or the flat schema-carrying part kept by
            # overwrite-to-empty): render it the way Delta/Hive do,
            # not as the Python literal 'None'
            def _pv(f, c):
                v = stats.get(f, {}).get(c, [None])[0]
                return (
                    "__HIVE_DEFAULT_PARTITION__" if v is None else str(v)
                )

            seen = sorted(
                {tuple(_pv(f, c) for c in pby) for f in m["files"]}
            )
            return self.spark.createDataFrame(
                seen, ", ".join(f"{c} string" for c in pby)
            )
        if not re.fullmatch(r"SHOW\s+TABLES", st, re.IGNORECASE):
            raise ValueError("expected: SHOW TABLES or SHOW PARTITIONS <t>")
        rows = [
            (
                n,
                t.root,
                -1 if t.latest_version() is None else t.latest_version(),
            )
            for n, t in sorted(self.tables.items())
        ]
        return self.spark.createDataFrame(
            rows, "name string, location string, version bigint"
        )

    def _restore(self, st: str) -> DataFrame:
        m = re.match(
            rf"RESTORE\s+TABLE\s+({_IDENT})\s+TO\s+(VERSION|TIMESTAMP)"
            rf"\s+AS\s+OF\s+('[^']*'|[0-9][0-9.\-:T]*)$",
            st,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(
                "expected: RESTORE TABLE <t> TO VERSION|TIMESTAMP AS OF x"
            )
        t = self._table(m.group(1))
        if m.group(2).upper() == "VERSION":
            target = int(m.group(3))
        else:
            ts = m.group(3).strip().strip("'").strip()
            ts = float(ts) if re.fullmatch(r"[0-9.]+", ts) else ts
            target = t.version_at(ts)
        return self._version_df(t.restore(target))

    #: OPTIMIZE's default output-file size target. Delta's equivalent
    #: (``delta.targetFileSize``) defaults near 1 GB on a cluster; 128
    #: MB keeps enough file granularity for the stats-pruned
    #: partial-rewrite paths at this engine's test scales while still
    #: collapsing small-file debris. Overridable per statement via
    #: ``TARGET SIZE <n> MB``.
    OPTIMIZE_TARGET_FILE_BYTES: int = 128 << 20

    def _optimize(self, st: str) -> DataFrame:
        m = re.match(
            rf"OPTIMIZE\s+({_IDENT})"
            rf"(?:\s+WHERE\s+(.*?))?"
            rf"(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?"
            rf"(?:\s+TARGET\s+SIZE\s+([0-9]+)\s*MB)?$",
            st,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(
                "expected: OPTIMIZE <t> [WHERE pred] [ZORDER BY (a, b)] "
                "[TARGET SIZE n MB]"
            )
        t = self._table(m.group(1))
        where, zorder = m.group(2), m.group(3)
        file_bytes = (
            (int(m.group(4)) << 20)
            if m.group(4)
            else self.OPTIMIZE_TARGET_FILE_BYTES
        )
        scope = None
        scoped_parts = None
        if where:
            # Delta's OPTIMIZE WHERE: bound the rewrite to the files
            # whose footer stats overlap the predicate's implied
            # ranges — partition/cluster-scoped maintenance, O(scope)
            # not O(table)
            ranges = _infer_prune_ranges(where.strip())
            if not ranges:
                raise ValueError(
                    "OPTIMIZE WHERE needs simple conjuncts the footer "
                    f"stats can bound (col op literal); got {where!r}"
                )
            scope = t.files_for_ranges(ranges)
            if len(scope) <= 1:
                return self._version_df(t.latest_version())
            scope_bytes = sum(t.data.file_size(f) for f in scope)
            # explicit TARGET SIZE sizes the scoped output by bytes;
            # otherwise halve the file count (bin-pack the debris)
            scoped_parts = (
                max(1, -(-scope_bytes // file_bytes))
                if m.group(4)
                else max(1, len(scope) // 2)
            )
        if zorder:
            cols = [c.strip().strip("`") for c in zorder.split(",")]
            cluster = cols if len(cols) > 1 else cols[0]
            if scope is not None:
                v = t.compact_files(
                    self.spark,
                    files=scope,
                    target_partitions=int(scoped_parts),
                    cluster_by=cluster,
                )
            else:
                # full clustered rewrite: output file count sized from
                # the table's CURRENT bytes (detail() is metadata-only)
                # so a large table keeps its file granularity — a
                # constant would collapse it to a handful of giant
                # files and defeat the stats-pruned partial rewrites
                size = t.detail()["size_bytes"]
                nparts = max(1, -(-size // file_bytes))
                v = t.compact(
                    self.spark,
                    target_partitions=int(nparts),
                    cluster_by=cluster,
                )
        elif scope is not None:
            v = t.compact_files(
                self.spark,
                files=scope,
                target_partitions=int(scoped_parts),
            )
        else:
            # plain OPTIMIZE: bin-pack small files, carry the rest
            v = t.compact_files(self.spark, max_file_bytes=file_bytes)
        return self._version_df(v)

    def _vacuum(self, st: str) -> DataFrame:
        m = re.match(
            rf"VACUUM\s+({_IDENT})(?:\s+RETAIN\s+([0-9.]+)\s+HOURS)?"
            rf"(\s+DRY\s+RUN)?$",
            st,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(
                "expected: VACUUM <t> [RETAIN n HOURS] [DRY RUN]"
            )
        t = self._table(m.group(1))
        seconds = float(m.group(2)) * 3600 if m.group(2) else 3600.0
        if m.group(3):
            would = t.vacuum(
                keep_last=1, retention_seconds=seconds, dry_run=True
            )
            return self.spark.createDataFrame(
                [(f,) for f in would], "would_remove string"
            )
        removed = t.vacuum(keep_last=1, retention_seconds=seconds)
        return self.spark.createDataFrame(
            [(len(removed),)], "files_removed bigint"
        )

    def _alter(self, st: str) -> DataFrame:
        pre = rf"ALTER\s+TABLE\s+({_IDENT})\s+"
        m = re.match(
            pre + rf"RENAME\s+COLUMN\s+`?({_IDENT})`?\s+TO\s+`?({_IDENT})`?$",
            st,
            re.IGNORECASE,
        )
        if m:
            return self._version_df(
                self._table(m.group(1)).rename_column(m.group(2), m.group(3))
            )
        m = re.match(pre + rf"DROP\s+COLUMN\s+`?({_IDENT})`?$", st,
                     re.IGNORECASE)
        if m:
            return self._version_df(
                self._table(m.group(1)).drop_column(m.group(2))
            )
        m = re.match(
            pre + rf"ADD\s+CONSTRAINT\s+({_IDENT})\s+CHECK\s*\((.*)\)$",
            st,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            return self._version_df(
                self._table(m.group(1)).add_constraint(
                    self.spark, m.group(2), m.group(3).strip()
                )
            )
        m = re.match(pre + rf"DROP\s+CONSTRAINT\s+({_IDENT})$", st,
                     re.IGNORECASE)
        if m:
            return self._version_df(
                self._table(m.group(1)).drop_constraint(m.group(2))
            )
        m = re.match(
            pre
            + rf"ADD\s+COLUMN\s+`?({_IDENT})`?\s+GENERATED\s+ALWAYS\s+AS"
            r"\s*\((.*)\)$",
            st,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            return self._version_df(
                self._table(m.group(1)).add_generated_column(
                    self.spark, m.group(2), m.group(3).strip()
                )
            )
        raise ValueError(
            "expected: ALTER TABLE <t> RENAME COLUMN a TO b | DROP COLUMN a"
            " | ADD CONSTRAINT n CHECK (pred) | DROP CONSTRAINT n"
            " | ADD COLUMN c GENERATED ALWAYS AS (expr)"
        )

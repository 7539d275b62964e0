"""SQL text surface for lake tables — the DML verbs as plain SQL.

``spark.sql`` cannot route ``MERGE INTO`` to a Python table format (that
needs a JVM catalog plugin), so :class:`LakeSQL` provides the text
front-end: a strict parser for a supported subset that maps onto the
table API verbs (`merge_into` / `update_where` / `delete_where` /
`append`), plus passthrough SELECT with lake-table name resolution and
time travel. Every unsupported shape fails loudly with the supported
grammar in the message — never a silent misread.

Supported statements (keywords case-insensitive; ``lake.<table>`` names
a table directory under the root):

* ``SELECT ... FROM lake.t [VERSION AS OF <n> | TIMESTAMP AS OF '<ts>']
  [JOIN lake.u ...] ...`` — lake references (with optional time travel)
  are registered as temp views of the resolved read and the rewritten
  query is delegated to ``spark.sql`` (full Spark SQL power: joins,
  windows, CTEs over the views).
* ``MERGE INTO lake.t [AS] <t-alias> USING (<subquery> | <view-name>)
  [AS] <s-alias> ON <equality conjunction over the merge keys>
  [WHEN MATCHED AND <cond> THEN DELETE]
  [WHEN MATCHED THEN UPDATE SET * | SET c = expr, ...]
  [WHEN NOT MATCHED THEN INSERT *]`` — source/target aliases are
  rewritten to the API's ``s``/``t``; omitting the INSERT clause gives
  an update-only merge. A DELETE clause requires the UPDATE clause
  (a MERGE without one is refused).
* ``UPDATE lake.t SET c = expr, ... WHERE <cond>`` — bare column names
  in the SET expressions resolve to the current row (SQL UPDATE
  semantics; the matched row is also available as ``s``).
* ``DELETE FROM lake.t WHERE <cond>``.
* ``INSERT INTO lake.t SELECT ... | VALUES (...), (...)`` — positional
  column mapping, appended through the normal bucketed write.

Reference analogue: the reference's report layer is plain SQL views over
its mart (``report_db.*_view.sql``); this is that surface pointed at
lake state, with the DML verbs the reference performs imperatively
(indexing, deletion scripts) expressed as SQL text.
"""

from __future__ import annotations

import re
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .table import LakeTable

_LAKE_REF = re.compile(
    r"\blake\.(\w+)"
    r"(?:\s+VERSION\s+AS\s+OF\s+(\d+)"
    r"|\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')?",
    re.IGNORECASE,
)

_MERGE = re.compile(
    r"^\s*MERGE\s+INTO\s+lake\.(?P<table>\w+)(?:\s+AS)?\s+(?P<talias>\w+)\s+"
    r"USING\s+(?:\((?P<subquery>.+?)\)|(?P<view>\w+))(?:\s+AS)?\s+(?P<salias>\w+)\s+"
    r"ON\s+(?P<on>.+?)\s*"
    r"(?P<whens>WHEN\s+.+)$",
    re.IGNORECASE | re.DOTALL,
)

_WHEN = re.compile(
    r"WHEN\s+(?P<not>NOT\s+)?MATCHED(?:\s+AND\s+(?P<cond>.+?))?\s+THEN\s+"
    r"(?P<action>DELETE|UPDATE\s+SET\s+(?P<set>.+?)|INSERT\s+\*)\s*"
    r"(?=WHEN\s+|$)",
    re.IGNORECASE | re.DOTALL,
)

_UPDATE = re.compile(
    r"^\s*UPDATE\s+lake\.(?P<table>\w+)\s+SET\s+(?P<set>.+?)\s+"
    r"WHERE\s+(?P<where>.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)

_DELETE = re.compile(
    r"^\s*DELETE\s+FROM\s+lake\.(?P<table>\w+)\s+WHERE\s+(?P<where>.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)

_INSERT = re.compile(
    r"^\s*INSERT\s+INTO\s+lake\.(?P<table>\w+)\s+(?P<query>(?:SELECT|VALUES)\s+.+)$",
    re.IGNORECASE | re.DOTALL,
)

_IDENT = re.compile(r"(?<![\w.'\"])([A-Za-z_]\w*)(?![\w(])")

_SQL_KEYWORDS = {
    "and", "or", "not", "in", "is", "null", "true", "false", "case", "when",
    "then", "else", "end", "between", "like", "rlike", "escape", "distinct",
    "interval", "day", "month", "year", "hour", "minute", "second", "cast",
    "as", "div",
}


def _split_assignments(text: str) -> dict[str, str]:
    """Split ``a = e1, b = e2`` at top-level commas (not inside parens or
    quotes)."""
    parts, depth, quote, cur = [], 0, None, []
    for ch in text:
        if quote:
            cur.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in "'\"":
            quote = ch
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    out = {}
    for p in parts:
        col, eq, expr = p.partition("=")
        if not eq or not col.strip().replace("t.", "").isidentifier():
            raise ValueError(
                f"unsupported SET assignment {p.strip()!r} "
                "(wanted: col = <expression>)"
            )
        out[col.strip().removeprefix("t.")] = expr.strip()
    return out


def _rewrite_alias(expr: str, mapping: dict[str, str]) -> str:
    """Rewrite ``<alias>.`` prefixes to the API's canonical s/t aliases."""
    for frm, to in mapping.items():
        expr = re.sub(rf"\b{re.escape(frm)}\.", f"{to}.", expr)
    return expr


def _qualify_bare_columns(expr: str, columns: set[str], alias: str) -> str:
    """SQL UPDATE semantics: a bare column reference means the current
    row. Qualify identifiers that name table columns (skipping function
    calls, already-qualified refs, string literals, and keywords)."""
    out, i = [], 0
    in_quote = None
    for m in _IDENT.finditer(expr):
        seg = expr[i:m.start()]
        for ch in seg:
            if in_quote:
                if ch == in_quote:
                    in_quote = None
            elif ch in "'\"":
                in_quote = ch
        out.append(seg)
        word = m.group(1)
        if (
            not in_quote
            and word in columns
            and word.lower() not in _SQL_KEYWORDS
        ):
            out.append(f"{alias}.{word}")
        else:
            out.append(word)
        i = m.end()
    out.append(expr[i:])
    return "".join(out)


class LakeSQL:
    """SQL text front-end over the lake tables under ``root``."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._tables: dict[str, LakeTable] = {}

    def table(self, name: str) -> LakeTable:
        if name not in self._tables:
            self._tables[name] = LakeTable(self.spark, f"{self.root}/{name}")
        return self._tables[name]

    # ------------------------------------------------------------------ sql
    def sql(self, text: str) -> Any:
        """Run one statement. SELECTs return a DataFrame; DML returns the
        table API's result dict."""
        stripped = text.strip().rstrip(";")
        head = stripped.split(None, 1)[0].upper() if stripped else ""
        if head == "MERGE":
            return self._merge(stripped)
        if head == "UPDATE":
            return self._update(stripped)
        if head == "DELETE":
            return self._delete(stripped)
        if head == "INSERT":
            return self._insert(stripped)
        if head in ("SELECT", "WITH"):
            return self._select(stripped)
        raise ValueError(
            f"unsupported statement {head!r}: one of "
            "SELECT/WITH, MERGE INTO, UPDATE, DELETE FROM, INSERT INTO"
        )

    # ---------------------------------------------------------------- select
    def _select(self, text: str) -> DataFrame:
        def sub(m: re.Match) -> str:
            name, version, ts = m.group(1), m.group(2), m.group(3)
            t = self.table(name)
            if version is not None:
                df = t.read(snapshot_id=int(version))
            elif ts is not None:
                import datetime as dt

                inst = dt.datetime.fromisoformat(ts)
                df = t.read_as_of(inst.timestamp())
            else:
                df = t.read()
            view = f"__lake_{name}_{uuid.uuid4().hex[:8]}"
            df.createOrReplaceTempView(view)
            return view

        rewritten = _LAKE_REF.sub(sub, text)
        return self.spark.sql(rewritten)

    # ----------------------------------------------------------------- merge
    def _merge(self, text: str) -> dict[str, Any]:
        m = _MERGE.match(text)
        if not m:
            raise ValueError(
                "unsupported MERGE shape; wanted: MERGE INTO lake.t [AS] t "
                "USING (<subquery>)|<view> [AS] s ON <cond> WHEN ..."
            )
        table = self.table(m.group("table"))
        alias_map = {m.group("salias"): "s", m.group("talias"): "t"}
        if m.group("subquery"):
            source = self._select(m.group("subquery"))
        else:
            source = self.spark.table(m.group("view"))

        # ON must be an equality conjunction covering the merge keys —
        # merge_into joins on them; anything else would silently change
        # semantics, so it is validated, not assumed
        keys = set(table.snapshot().props.get("merge_keys",
                                              table.bucket_keys))
        on = _rewrite_alias(m.group("on"), alias_map)
        seen = set()
        for part in re.split(r"\bAND\b", on, flags=re.IGNORECASE):
            eq = re.match(
                r"^\s*(?:s|t)\.(\w+)\s*=\s*(?:s|t)\.(\w+)\s*$", part.strip()
            )
            if not eq or eq.group(1) != eq.group(2):
                raise ValueError(
                    f"MERGE ON must be an equality conjunction on the merge "
                    f"keys (s.k = t.k); got {part.strip()!r}"
                )
            seen.add(eq.group(1))
        if seen != keys:
            raise ValueError(
                f"MERGE ON covers {sorted(seen)} but the table's merge keys "
                f"are {sorted(keys)}"
            )

        update_set: dict[str, str] | str | None = None
        insert = False
        delete_when = None
        consumed = 0
        for w in _WHEN.finditer(m.group("whens")):
            consumed += len(w.group(0))
            action = w.group("action").upper()
            if w.group("not"):
                if not action.startswith("INSERT"):
                    raise ValueError(
                        "WHEN NOT MATCHED supports only THEN INSERT *"
                    )
                if w.group("cond"):
                    raise ValueError("WHEN NOT MATCHED AND ... unsupported")
                insert = True
            elif action == "DELETE":
                delete_when = (
                    _rewrite_alias(w.group("cond"), alias_map)
                    if w.group("cond") else "true"
                )
            else:  # UPDATE SET
                if w.group("cond"):
                    raise ValueError(
                        "WHEN MATCHED AND <cond> THEN UPDATE unsupported "
                        "(only ... THEN DELETE takes a condition)"
                    )
                set_text = w.group("set").strip()
                if set_text == "*":
                    update_set = "all"
                else:
                    update_set = {
                        c: _rewrite_alias(e, alias_map)
                        for c, e in _split_assignments(set_text).items()
                    }
        if consumed < len(m.group("whens").strip()):
            raise ValueError(
                f"unparsed MERGE clause near: "
                f"{m.group('whens')[consumed:consumed + 60]!r}"
            )
        if delete_when is not None and update_set is None:
            # merge_into has no "leave matched rows as they are": without
            # an UPDATE clause the rows the DELETE condition spares would
            # be overwritten with the source payload
            raise ValueError(
                "MERGE with WHEN MATCHED ... THEN DELETE needs a "
                "WHEN MATCHED THEN UPDATE clause too (unsupported: "
                "DELETE without UPDATE)"
            )
        return table.merge_into(
            source,
            update_set=update_set if update_set is not None else "all",
            insert=insert,
            delete_when=delete_when,
            summary={"sql": "merge_into"},
        )

    # ---------------------------------------------------------------- update
    def _update(self, text: str) -> dict[str, Any]:
        m = _UPDATE.match(text)
        if not m:
            raise ValueError(
                "unsupported UPDATE shape; wanted: "
                "UPDATE lake.t SET c = expr, ... WHERE <cond>"
            )
        table = self.table(m.group("table"))
        cols = {f.name for f in table.snapshot().schema.fields}
        set_exprs = {
            c: _qualify_bare_columns(e, cols, "t")
            for c, e in _split_assignments(m.group("set")).items()
        }
        return table.update_where(m.group("where"), set_exprs)

    # ---------------------------------------------------------------- delete
    def _delete(self, text: str) -> dict[str, Any]:
        m = _DELETE.match(text)
        if not m:
            raise ValueError(
                "unsupported DELETE shape; wanted: "
                "DELETE FROM lake.t WHERE <cond>"
            )
        return self.table(m.group("table")).delete_where(m.group("where"))

    # ---------------------------------------------------------------- insert
    def _insert(self, text: str) -> dict[str, Any]:
        m = _INSERT.match(text)
        if not m:
            raise ValueError(
                "unsupported INSERT shape; wanted: "
                "INSERT INTO lake.t SELECT ... | VALUES (...), (...)"
            )
        table = self.table(m.group("table"))
        q = m.group("query")
        if q.split(None, 1)[0].upper() == "VALUES":
            df = self.spark.sql(f"SELECT * FROM ({q})")
        else:
            df = self._select(q)
        names = [f.name for f in table.snapshot().schema.fields]
        if len(df.columns) != len(names):
            raise ValueError(
                f"INSERT arity mismatch: query yields {len(df.columns)} "
                f"columns, table has {len(names)} ({names})"
            )
        snap = table.append(df.toDF(*names))
        return {"inserted": "appended", "snapshot_id": snap.snapshot_id}

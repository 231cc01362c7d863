"""CSS selector queries over the relational nodes table.

The reference ecosystem pairs htmlparser2's DOM with the css-select
package; here a selector compiles to DataFrame operations instead of
an in-memory tree walk:

* a **compound** (``p``, ``.cls``, ``#id``, ``[attr=v]``, ``*``) is a
  pushdown-friendly filter on the nodes table,
* the **child** combinator (``>``) is a within-document equi-join on
  ``parent_id``,
* the **descendant** combinator (whitespace) is a within-document
  equi-join plus in-row membership in the ``ancestors`` column (so the
  nodes table must be built ``with_ancestors=True``; no recursive
  closure ever runs),
* the **sibling** combinators (``+`` adjacent, ``~`` general) join on
  (document, parent, element-rank): CSS sibling relations skip
  non-element nodes, so raw ``idx_in_parent`` (which counts text and
  comment children) would be wrong — one window pass ranks element
  children per parent, then ``A + B`` is rank(B) = rank(A) + 1 and
  ``A ~ B`` is rank(B) > rank(A).

Supported grammar (the high-traffic subset)::

    selector-list := selector ( ',' selector )*           -- union
    selector      := compound ( ( '>' | ' ' | '+' | '~' ) compound )*
    compound      := [ tag | '*' ] ( '#id' | '.class' | attr-test )* pseudo*
    attr-test     := '[attr]' | '[attr=v]' | '[attr^=v]' | '[attr$=v]'
                   | '[attr*=v]' | '[attr~=v]' | '[attr|=v]' | '[attr!=v]'
    pseudo        := ':first-child' | ':last-child' | ':only-child'
                   | ':nth-child(An+B)' | ':nth-last-child(An+B)'
                   | '[attr=v i]' (CSS4 case-insensitive value flag)
                   | ':first-of-type' | ':last-of-type' | ':only-of-type'
                   | ':nth-of-type(An+B)' | ':nth-last-of-type(An+B)'
                   | ':not(compound)' | ':empty' | ':root' | ':scope'
                   | ':is(compound-list)' | ':where(...)' | ':matches(...)'
                   | ':contains(text)' | ':icontains(text)'
                   | ':has(compound-list)' | ':has(> compound-list)'

Structural pseudo-classes follow CSS child-indexing semantics: the
position counts **element** siblings (rank among element children, or
among same-name element children for the ``-of-type`` family) — the
same window-ranked columns the sibling combinators use.

The css-select content/relational pseudos compile to relational shapes:

* ``:contains``/``:icontains`` match on subtree text (domutils getText
  semantics: text + CDATA descendants in document order, ``<br>`` as a
  newline, script/style text included). The subtree text is built once
  per selector — text rows explode their ``ancestors`` column and
  concat per element — so using these pseudos costs one extra
  within-document shuffle of O(text nodes x depth) and requires a
  nodes table built ``with_ancestors=True``.
* ``:has(inner)`` is a semi-join against the inner matches: descendant
  mode joins on the inner matches' ``ancestors`` membership
  (``with_ancestors=True`` required), ``:has(> inner)`` on their
  ``parent_id``. The inner selector is a compound list (no deeper
  combinator chains, no nested ``:has``) — anything else raises.

Anything else (non-structural pseudos like ``:hover``, ``:nth``
expressions the An+B parser rejects, nested parentheses the tokenizer
cannot see into) raises ``ValueError`` loudly rather than silently
matching wrong rows.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .domquery import _require_ancestors

__all__ = ["css_select"]

_ELEMENT_TYPES = ("tag", "script", "style")
# A compound token is a run of plain chars, [...] groups, and (...)
# groups — combinator chars inside brackets/parens (e.g. the '+' in
# ':nth-child(2n+1)') must not split the compound. Paren groups allow
# one nesting level so ':not(:contains(x))' / ':has(li:nth-child(2))'
# parse; deeper nesting fails the compound match and raises loudly.
_PARENS = r"\((?:[^()]|\([^()]*\))*\)"
_TOKEN = re.compile(rf"[>+~]|(?:\[[^\]]*\]|{_PARENS}|[^\s>+~\[(]+)+")
_COMBINATORS = {">": "child", "+": "adjacent", "~": "general"}
_COMPOUND = re.compile(
    r"^(?P<tag>\*|[A-Za-z][A-Za-z0-9-]*)?(?P<rest>(?:[#.][\w-]+|\[[^\]]+\])*)"
    rf"(?P<pseudo>(?::[\w-]+(?:{_PARENS})?)*)$"
)
_SIMPLE = re.compile(r"[#.][\w-]+|\[[^\]]+\]")
_ATTR_TEST = re.compile(
    # optional CSS4 case-sensitivity flag after the value: [attr="v" i]
    # ('s' — the explicit-sensitive flag — is the default behavior and
    # also accepted). The flag only parses after an operator+value.
    r"^([\w-]+)(?:([~|^$*!]?=)(.*?)(?:\s+([is]))?)?$"
)
_PSEUDO = re.compile(rf":([\w-]+)(?:\(((?:[^()]|\([^()]*\))*)\))?")
# CSS An+B micro-syntax: a bare integer, or [sign][a]n[±b], odd, even.
_NTH = re.compile(r"^(?:([+-]?\d+)|([+-]?\d*)n(?:\s*([+-])\s*(\d+))?)$")

# Rank columns added by _augmented(): element rank / count per parent,
# the same pair per (parent, name) for the -of-type family, and the
# content-children count for :empty.
_AUG_COLS = ("__erank", "__ecount", "__trank", "__tcount", "__kidcount")


def _parse_nth(arg: str | None, pseudo: str) -> tuple[int, int]:
    s = (arg or "").strip().lower()
    if s == "odd":
        return 2, 1
    if s == "even":
        return 2, 0
    m = _NTH.match(s)
    if not m:
        raise ValueError(f"unsupported An+B expression in :{pseudo}({arg})")
    if m.group(1) is not None:
        return 0, int(m.group(1))
    a_txt = m.group(2)
    a = 1 if a_txt in ("", "+") else -1 if a_txt == "-" else int(a_txt)
    b = int(m.group(4)) if m.group(4) is not None else 0
    if m.group(3) == "-":
        b = -b
    return a, b


def _nth_pred(rank: Column, a: int, b: int) -> Column:
    """rank = a*n + b for some integer n >= 0."""
    if a == 0:
        return rank == b
    cond = (rank - b) % a == 0
    return cond & (rank >= b if a > 0 else rank <= b)


def _split_top(s: str) -> list[str]:
    """Split a selector list on commas outside [...] / (...) groups."""
    parts: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in s:
        if ch in "[(":
            depth += 1
        elif ch in "])":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur).strip())
    if not all(parts):
        raise ValueError(f"empty branch in selector list: {s!r}")
    return parts


def _strip_quotes(value: str) -> str:
    if len(value) >= 2 and value[0] == value[-1] and value[0] in "\"'":
        return value[1:-1]
    return value


def _pseudo_pred(name: str, arg: str | None) -> tuple[Column, bool, bool]:
    """(predicate, needs_rank, needs_text) for one column-compilable
    pseudo-class. ``:has`` is handled by _compound_pred (it is a
    semi-join, not a column)."""
    er, ec = F.col("__erank"), F.col("__ecount")
    tr, tc = F.col("__trank"), F.col("__tcount")
    if name == "first-child":
        return er == 1, True, False
    if name == "last-child":
        return er == ec, True, False
    if name == "only-child":
        return ec == 1, True, False
    if name == "first-of-type":
        return tr == 1, True, False
    if name == "last-of-type":
        return tr == tc, True, False
    if name == "only-of-type":
        return tc == 1, True, False
    if name in ("nth-child", "nth-last-child"):
        a, b = _parse_nth(arg, name)
        rank = er if name == "nth-child" else ec - er + 1
        return _nth_pred(rank, a, b), True, False
    if name in ("nth-of-type", "nth-last-of-type"):
        a, b = _parse_nth(arg, name)
        rank = tr if name == "nth-of-type" else tc - tr + 1
        return _nth_pred(rank, a, b), True, False
    if name == "empty":
        return F.col("__kidcount") == 0, True, False
    if name in ("root", "scope"):
        # css-select resolves :scope to the context element, falling
        # back to the ROOT when no context is set (css-select
        # Options.context). Our relational select is always
        # document-rooted — there is no narrower context to scope to —
        # so :scope is exactly the root predicate: elements whose
        # parent is the document itself.
        return F.col("parent_id") == -1, False, False
    if name in ("contains", "icontains"):
        if arg is None:
            raise ValueError(f":{name}() needs a text argument")
        value = _strip_quotes(arg)
        if name == "icontains":
            return (
                F.lower(F.col("__subtext")).contains(value.lower()),
                False,
                True,
            )
        return F.col("__subtext").contains(value), False, True
    if name in ("is", "matches", "where"):
        if arg is None or not arg.strip():
            raise ValueError(f":{name}() needs a compound list")
        pred = None
        needs_rank = needs_text = False
        for part in _split_top(arg):
            p, r, t, has_specs = _compound_pred(part)
            if has_specs:
                raise ValueError(f":has is not supported inside :{name}()")
            pred = p if pred is None else (pred | p)
            needs_rank = needs_rank or r
            needs_text = needs_text or t
        return pred, needs_rank, needs_text
    if name == "not":
        if arg is None or not arg.strip():
            raise ValueError(":not() needs an inner compound")
        inner, inner_rank, inner_text, has_specs = _compound_pred(arg.strip())
        if has_specs:
            raise ValueError(":has is not supported inside :not()")
        return ~inner, inner_rank, inner_text
    raise ValueError(f"unsupported pseudo-class: :{name}")


def _compound_pred(
    compound: str,
) -> tuple[Column, bool, bool, list[list[tuple[str, Column, bool, bool]]]]:
    """(pred, needs_rank, needs_text, has_specs). Each has_spec is one
    ``:has()`` occurrence — a list of (mode, inner_pred, inner_rank,
    inner_text) alternatives (the comma list inside the parens), AND-ed
    across occurrences and OR-ed within one."""
    m = _COMPOUND.match(compound)
    if not m or (
        not m.group("tag") and not m.group("rest") and not m.group("pseudo")
    ):
        raise ValueError(f"unsupported CSS compound: {compound!r}")
    pred = F.col("type").isin(*_ELEMENT_TYPES)
    needs_rank = False
    needs_text = False
    has_specs: list[list[tuple[str, Column, bool, bool]]] = []
    tag = m.group("tag")
    if tag and tag != "*":
        pred = pred & (F.col("name") == tag.lower())
    for pname, parg in _PSEUDO.findall(m.group("pseudo")):
        if pname == "has":
            if parg is None or not parg.strip():
                raise ValueError(":has() needs an inner compound list")
            spec: list[tuple[str, Column, bool, bool]] = []
            for part in _split_top(parg):
                mode = "descendant"
                if part.startswith(">"):
                    mode = "child"
                    part = part[1:].strip()
                ip, ir, it, inner_has = _compound_pred(part)
                if inner_has:
                    raise ValueError(":has() cannot nest :has()")
                spec.append((mode, ip, ir, it))
            has_specs.append(spec)
            continue
        p, r, t = _pseudo_pred(pname, parg if parg != "" else None)
        pred = pred & p
        needs_rank = needs_rank or r
        needs_text = needs_text or t
    # Attribute tests on a missing attribute must be FALSE, never NULL:
    # a NULL here survives & / | and flips under the :not() inversion
    # (~NULL is NULL -> the element is wrongly excluded), so every
    # attribute-derived predicate below is built NULL-free
    # (eqNullSafe / coalesce-to-False).
    for simple in _SIMPLE.findall(m.group("rest")):
        if simple.startswith("#"):
            pred = pred & F.col("attrs")["id"].eqNullSafe(simple[1:])
        elif simple.startswith("."):
            # class attribute is whitespace-separated tokens
            pred = pred & F.array_contains(
                F.split(F.coalesce(F.col("attrs")["class"], F.lit("")), r"\s+"),
                simple[1:],
            )
        else:
            # != etc. must NOT silently compile to a garbage
            # attribute-name lookup — reject anything but the
            # supported operators explicitly.
            am = _ATTR_TEST.match(simple[1:-1].strip())
            if not am:
                raise ValueError(f"unsupported attribute test: {simple!r}")
            attr, op, value, flag = (
                am.group(1), am.group(2), am.group(3), am.group(4)
            )
            col = F.col("attrs")[attr]
            if op is None:
                pred = pred & col.isNotNull()
                continue
            value = value.strip("\"'")
            if flag == "i":
                # CSS4 case-insensitive value flag: fold BOTH sides
                # (ASCII-adequate lower; the attr value space here is
                # html attribute text). 's' is the default behavior.
                col = F.lower(col)
                value = value.lower()
            if op == "=":
                pred = pred & col.eqNullSafe(value)
            elif op == "!=":
                # css-select's jQuery-inherited inequality (css-select
                # attributes.ts, the "not" action): for a non-empty
                # value, elements MISSING the attribute match too
                # (getAttributeValue(...) !== value with undefined on
                # the left is true); [attr!=""] instead requires an
                # existing non-empty value. eqNullSafe keeps the
                # negation NULL-free under :not().
                if value == "":
                    pred = pred & col.isNotNull() & (col != "")
                else:
                    pred = pred & ~col.eqNullSafe(value)
            elif op == "^=":
                pred = pred & F.coalesce(
                    col.startswith(value), F.lit(False)
                )
            elif op == "$=":
                pred = pred & F.coalesce(
                    col.endswith(value), F.lit(False)
                )
            elif op == "~=":
                # whitespace-separated token list contains the value
                # exactly (the .class mechanic, generalized)
                pred = pred & F.array_contains(
                    F.split(F.coalesce(col, F.lit("")), r"\s+"), value
                )
            elif op == "|=":
                # exact match or value followed by a hyphen (the CSS
                # lang-subcode operator)
                pred = pred & F.coalesce(
                    (col == value) | col.startswith(value + "-"),
                    F.lit(False),
                )
            else:  # *=
                pred = pred & F.coalesce(
                    col.contains(value), F.lit(False)
                )
    return pred, needs_rank, needs_text, has_specs


def _subtree_text(nodes: DataFrame, key_col: str) -> DataFrame:
    """(key, node_id, __subtext): per-element subtree text with domutils
    getText semantics — text + CDATA descendant data in document order
    (DFS node_id order), ``<br>`` rendered as a newline, script/style
    text included, comments/PIs excluded. One explode of the
    contributors' ``ancestors`` stacks + one within-document shuffle;
    only elements that contain any text get a row (callers coalesce
    to '')."""
    _require_ancestors(nodes, ":contains()/:has() subtree text")
    contributors = nodes.filter(
        F.col("type").isin("text", "cdata")
        | (F.col("type").isin(*_ELEMENT_TYPES) & (F.col("name") == "br"))
    ).select(
        key_col,
        F.col("node_id").alias("__tid"),
        F.when(F.col("type").isin(*_ELEMENT_TYPES), F.lit("\n"))
        .otherwise(F.coalesce(F.col("data"), F.lit("")))
        .alias("__piece"),
        F.explode("ancestors").alias("node_id"),
    )
    return contributors.groupBy(key_col, "node_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("__tid", "__piece"))),
                lambda s: s["__piece"],
            ),
        ).alias("__subtext")
    )


def _augmented(nodes: DataFrame, key_col: str) -> DataFrame:
    """Element rows with the four rank columns (:pseudo-classes and
    sibling combinators share them): two window passes, both partitioned
    within-document — no cross-document shuffle wider than the element
    rows themselves."""
    wp = Window.partitionBy(key_col, "parent_id")
    wt = Window.partitionBy(key_col, "parent_id", "name")
    elems = nodes.filter(F.col("type").isin(*_ELEMENT_TYPES))
    # :empty counts content children per the CSS definition: elements
    # and non-empty text/cdata affect emptiness; comments and PIs do
    # not.
    kid_counts = (
        nodes.filter(
            F.col("type").isin(*_ELEMENT_TYPES)
            | (F.col("type").isin("text", "cdata") & (F.col("data") != ""))
        )
        .groupBy(key_col, F.col("parent_id").alias("node_id"))
        .agg(F.count(F.lit(1)).alias("__kidcount"))
    )
    return (
        elems.withColumn(
            "__erank", F.row_number().over(wp.orderBy("idx_in_parent"))
        )
        .withColumn("__ecount", F.count(F.lit(1)).over(wp))
        .withColumn(
            "__trank", F.row_number().over(wt.orderBy("idx_in_parent"))
        )
        .withColumn("__tcount", F.count(F.lit(1)).over(wt))
        .join(kid_counts, [key_col, "node_id"], "left")
        .withColumn("__kidcount", F.coalesce("__kidcount", F.lit(0)))
    )


def css_select(
    nodes: DataFrame, selector: str, *, key_col: str = "url"
) -> DataFrame:
    """Rows of ``nodes`` matching ``selector`` (distinct per element).

    Chain cost: one within-document join per combinator, each keyed on
    ``key_col`` — candidate sets shrink left-to-right, and nothing is
    quadratic in document count or corpus size. A selector list
    (comma) unions its branches and de-duplicates per element.
    """
    parts = _split_top(selector) if "," in selector else [selector]
    if len(parts) > 1:
        out = css_select(nodes, parts[0], key_col=key_col)
        for part in parts[1:]:
            out = out.unionByName(css_select(nodes, part, key_col=key_col))
        return out.drop_duplicates([key_col, "node_id"])
    tokens = _TOKEN.findall(selector)
    if not tokens or tokens[0] in _COMBINATORS or tokens[-1] in _COMBINATORS:
        raise ValueError(f"unsupported CSS selector: {selector!r}")
    ctx: DataFrame | None = None
    ranked: DataFrame | None = None
    subtexted: DataFrame | None = None
    combinator = None
    expect_compound = True

    def aug() -> DataFrame:
        nonlocal ranked
        if ranked is None:
            ranked = _augmented(nodes, key_col)
        return ranked

    def subtext() -> DataFrame:
        nonlocal subtexted
        if subtexted is None:
            subtexted = _subtree_text(nodes, key_col)
        return subtexted

    def matches_of(
        pred: Column,
        needs_rank: bool,
        needs_text: bool,
        has_specs,
        *,
        keep_aug: bool = False,
    ) -> DataFrame:
        src = aug() if (needs_rank or keep_aug) else nodes
        if needs_text:
            src = src.join(
                subtext(), [key_col, "node_id"], "left"
            ).withColumn("__subtext", F.coalesce("__subtext", F.lit("")))
        m = src.filter(pred)
        drop = ["__subtext"] if needs_text else []
        if (needs_rank or keep_aug) and not keep_aug:
            drop.extend(_AUG_COLS)
        if drop:
            m = m.drop(*drop)
        for spec in has_specs:
            # One semi-join per :has() occurrence; the comma list inside
            # it unions its candidate anchors first.
            cand: DataFrame | None = None
            for mode, ipred, irank, itext in spec:
                im = matches_of(ipred, irank, itext, [])
                if mode == "child":
                    part = im.select(
                        F.col(key_col).alias("__hkey"),
                        F.col("parent_id").alias("__hid"),
                    )
                else:
                    _require_ancestors(
                        im, ":has() with descendant semantics"
                    )
                    part = im.select(
                        F.col(key_col).alias("__hkey"),
                        F.explode("ancestors").alias("__hid"),
                    )
                cand = part if cand is None else cand.unionByName(part)
            m = m.join(
                cand.distinct(),
                (F.col(key_col) == F.col("__hkey"))
                & (F.col("node_id") == F.col("__hid")),
                "leftsemi",
            )
        return m

    for tok in tokens:
        if tok in _COMBINATORS:
            if expect_compound:
                raise ValueError(f"unsupported CSS selector: {selector!r}")
            combinator = _COMBINATORS[tok]
            expect_compound = True
            continue
        pred, needs_rank, needs_text, has_specs = _compound_pred(tok)
        if ctx is None:
            ctx = matches_of(pred, needs_rank, needs_text, has_specs)
        elif combinator in ("adjacent", "general"):
            anchor_info = aug().join(
                ctx.select(key_col, "node_id").distinct(),
                [key_col, "node_id"],
            ).select(
                F.col(key_col).alias("__akey"),
                F.col("parent_id").alias("__aparent"),
                F.col("__erank").alias("__arank"),
            )
            m = matches_of(
                pred, needs_rank, needs_text, has_specs, keep_aug=True
            )
            rank_cond = (
                F.col("__erank") == F.col("__arank") + 1
                if combinator == "adjacent"
                else F.col("__erank") > F.col("__arank")
            )
            joined = m.join(
                anchor_info,
                (F.col(key_col) == F.col("__akey"))
                & (F.col("parent_id") == F.col("__aparent"))
                & rank_cond,
            )
            ctx = joined.drop(
                "__akey", "__aparent", "__arank", *_AUG_COLS
            ).drop_duplicates([key_col, "node_id"])
        else:
            matches = matches_of(pred, needs_rank, needs_text, has_specs)
            anchors = ctx.select(
                key_col, F.col("node_id").alias("__anchor")
            ).distinct()
            joined = matches.join(anchors, key_col)
            if combinator == "child":
                joined = joined.filter(
                    F.col("parent_id") == F.col("__anchor")
                )
            else:
                _require_ancestors(matches, "descendant combinator")
                joined = joined.filter(
                    F.array_contains("ancestors", F.col("__anchor"))
                )
            ctx = joined.drop("__anchor").drop_duplicates(
                [key_col, "node_id"]
            )
        combinator = "descendant"
        expect_compound = False
    return ctx

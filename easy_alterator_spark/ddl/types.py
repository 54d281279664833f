"""Type vocabulary: normalization + compatibility rules.

Re-expresses the reference rule book (cf. /root/reference/src/rules/
rule_book.py:226-345) in two forms:

- plain-Python helpers for driver-side use (rendering DDL, tests);
- Spark ``Column`` expressions so compatibility classification of
  millions of column pairs runs as one projection, never a row-wise
  UDF (the reference's hot path was a pandas ``df.apply`` —
  rule_book.py:178-191).

Two vocabularies are kept deliberately separate (SURVEY.md §7 watch
list): the *comparison* domain uses non-standard names (``long``,
``timestamptz``); Spark DDL output never does.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_DECIMAL_RE = re.compile(r"decimal\((\d+),\s*(\d+)\)")

# old type -> allowed new types, per query engine. Mirrors the
# reference's matrix (rule_book.py:307-328) including its quirks: the
# bare-word DECIMAL/VARCHAR entries only ever match unparameterized
# spellings; parameterized decimals go through the widening rule.
COMPATIBILITY: dict[str, dict[str, tuple[str, ...]]] = {
    "athena": {
        "STRING": ("BYTE", "TINYINT", "SMALLINT", "INT", "BIGINT", "VARCHAR"),
        "BYTE": ("TINYINT", "SMALLINT", "INT", "BIGINT"),
        "TINYINT": ("SMALLINT", "INT", "BIGINT"),
        "SMALLINT": ("INT", "BIGINT"),
        "INT": ("BIGINT",),
        "FLOAT": ("DOUBLE",),
        "DECIMAL": ("DECIMAL",),
        "VARCHAR": ("VARCHAR",),
    },
    "iceberg": {
        "STRING": (),
        "BYTE": (),
        "TINYINT": ("SMALLINT", "INT", "BIGINT"),
        "SMALLINT": ("INT", "BIGINT"),
        "INT": ("BIGINT", "LONG"),
        "FLOAT": ("DOUBLE",),
        "DECIMAL": ("DECIMAL",),
        "VARCHAR": ("VARCHAR",),
    },
}

# DDL vocabulary -> Iceberg comparison vocabulary (Spark calls bigint
# "long"; Iceberg DDL timestamp means timestamptz).
DDL_TO_ICEBERG = {"bigint": "long"}
# Iceberg metadata vocabulary -> Spark comparison vocabulary.
ICEBERG_TO_SPARK = {"timestamp": "timestamp_ntz", "timestamptz": "timestamp"}

# Default Iceberg table properties excluded from removed-props detection
# (cf. reference rule book ICEBERG_DEFAULT_PROP, rule_book.py:342-345).
ICEBERG_DEFAULT_PROPS = (
    "write.parquet.compression-codec",
    "schema.name-mapping.default",
)


# ---------------------------------------------------------------------------
# driver-side helpers
# ---------------------------------------------------------------------------


def canon_decimal(t: str) -> str:
    """decimal(p,s) -> canonical 'decimal(p, s)' spacing."""
    return re.sub(r"decimal\((\d+),\s*(\d+)\)", r"decimal(\1, \2)", t)


def is_nested_type(t: str) -> bool:
    """array<...> / struct<...> / map<...> (any complex type)."""
    return "<" in t


def canon_nested(t: str) -> str:
    """Canonical nested-type spelling: lowercase, zero whitespace.

    ``Array< Struct<a : int, b:string> >`` == ``array<struct<a:int,b:string>>``.
    Whitespace inside complex types is never load-bearing in Hive/Spark
    DDL, so stripping it yields a stable comparison key on both sides.
    """
    return re.sub(r"\s+", "", t.lower())


def parse_type_ddl(t: str):
    """Validate/parse a type string via Spark's own DDL parser
    (``DataType.fromDDL`` — requires an active SparkSession). Raises on
    malformed types; used by tests and the apply path as a guard before
    rendering ALTER statements with nested types."""
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(t)


def normalize_hive_type(t: str) -> str:
    """Hive comparison normalization: decimal spacing canonical; nested
    complex types canonicalized to the whitespace-free lowercase form."""
    if is_nested_type(t):
        return canon_nested(t)
    return canon_decimal(t) if "decimal" in t.lower() else t


def normalize_iceberg_ddl_type(t: str) -> str:
    """DDL type -> Iceberg comparison vocabulary.

    varchar(n) -> string; decimal canonical spacing; bare timestamp ->
    timestamptz; bigint -> long; nested complex types canonicalized
    (compatible only on exact match — Iceberg does not evolve complex
    types wholesale).
    """
    if is_nested_type(t):
        return canon_nested(t)
    low = t.lower()
    if low.startswith("varchar"):
        return re.sub(r"varchar\(\d+\)", "string", t, flags=re.IGNORECASE)
    if low.startswith("decimal"):
        return canon_decimal(t)
    if low == "timestamp":
        return "timestamptz"
    return DDL_TO_ICEBERG.get(t, t)


def decimal_compatible(old: str, new: str) -> bool:
    """Widening rule: same scale, strictly larger precision.

    Reference quirk preserved on purpose: if either side fails to parse
    as decimal(p,s), the change is deemed *compatible* (rule_book.py:285
    returns True on fall-through).
    """
    om, nm = _DECIMAL_RE.match(old), _DECIMAL_RE.match(new)
    if om and nm:
        op, os_ = int(om.group(1)), int(om.group(2))
        np_, ns = int(nm.group(1)), int(nm.group(2))
        return os_ == ns and np_ > op
    return True


# Iceberg-legal primitive promotions INSIDE complex types (spec §
# Schema Evolution: int->long, float->double, decimal precision
# widening — narrower than the engine matrices on purpose).
NESTED_PROMOTIONS: dict[str, tuple[str, ...]] = {
    "int": ("bigint",),
    "float": ("double",),
}
# spelling aliases folded before comparing nested leaf tokens (Spark
# DDL says bigint where Iceberg metadata says long)
_NESTED_ALIAS = {"long": "bigint"}

# token split: before/after every structural delimiter, with decimal
# commas protected first so decimal(10,2) stays one leaf token
_NESTED_DELIMS = re.compile(r"(?=[<>,:])|(?<=[<>,:])")
_DECIMAL_PROTECT = re.compile(r"decimal\((\d+),\s*(\d+)\)")
_DECIMAL_TOKEN = re.compile(r"^decimal\((\d+);(\d+)\)$")


def _nested_tokens(t: str) -> list[str]:
    protected = _DECIMAL_PROTECT.sub(r"decimal(\1;\2)", canon_nested(t))
    return [tok for tok in _NESTED_DELIMS.split(protected) if tok]


def _leaf_token_ok(o: str, n: str) -> bool:
    o = _NESTED_ALIAS.get(o, o)
    n = _NESTED_ALIAS.get(n, n)
    if o == n:
        return True
    if n in NESTED_PROMOTIONS.get(o, ()):
        return True
    om, nm = _DECIMAL_TOKEN.match(o), _DECIMAL_TOKEN.match(n)
    if om and nm:  # strict widening — no parse-failure quirk here
        return int(om.group(2)) == int(nm.group(2)) and int(nm.group(1)) > int(
            om.group(1)
        )
    return False


def nested_compatible(old: str, new: str) -> bool:
    """Element-wise Iceberg-legal widening inside complex types
    (r3 verdict task 5; the reference cannot parse these at all —
    divergence documented in SURVEY §3).

    Both canonical type strings are tokenized on the structural
    delimiters ``< > , :`` (decimal commas protected); the types are
    compatible iff the token sequences have identical length and every
    aligned pair is equal (after the long/bigint alias fold) or an
    Iceberg-legal promotion: int->long(bigint), float->double,
    decimal(P,S)->decimal(P',S) with P'>P. Identical shape falls out
    structurally: any arity/nesting difference desynchronizes the
    delimiter tokens, which never match a promotion. Struct field
    names therefore must match exactly (renames are a separate
    operation). Known limitation: a struct FIELD literally named
    ``int`` renamed to ``bigint`` would alias a promotion — names
    colliding with promotable type keywords are not disambiguated.
    """
    ot, nt = _nested_tokens(old), _nested_tokens(new)
    return len(ot) == len(nt) and all(
        _leaf_token_ok(o, n) for o, n in zip(ot, nt)
    )


def is_compatible(old: str, new: str, engine: str = "athena") -> bool:
    """Driver-side compatibility check (matrix ∨ decimal widening).

    Nested complex types: for ``engine="iceberg"`` an element-wise
    Iceberg-legal widening (:func:`nested_compatible`) classifies
    ``array<int>`` -> ``array<bigint>`` (and struct-field/map-value
    promotions) as compatible; everything else involving
    array/struct/map is incompatible. The athena/hive path stays
    exact-match-only (conservative), and nested types never reach the
    decimal widening rule's parse-failure-is-compatible quirk (a
    struct containing a decimal field would otherwise be waved
    through).
    """
    if is_nested_type(old) or is_nested_type(new):
        return (
            engine == "iceberg"
            and is_nested_type(old)
            and is_nested_type(new)
            and nested_compatible(old, new)
        )
    matrix = COMPATIBILITY[engine]
    if new.upper() in matrix.get(old.upper(), ()):
        return True
    return "decimal" in new.lower() and "decimal" in old.lower() and decimal_compatible(old, new)


# ---------------------------------------------------------------------------
# Spark Column expressions (data-level, codegen-friendly)
# ---------------------------------------------------------------------------


def canon_decimal_col(t: Column) -> Column:
    return F.regexp_replace(t, r"decimal\((\d+),\s*(\d+)\)", r"decimal($1, $2)")


def canon_nested_col(t: Column) -> Column:
    return F.lower(F.regexp_replace(t, r"\s+", ""))


def normalize_hive_type_col(t: Column) -> Column:
    return F.when(t.contains("<"), canon_nested_col(t)).otherwise(canon_decimal_col(t))


def normalize_iceberg_ddl_type_col(t: Column) -> Column:
    low = F.lower(t)
    out = F.when(t.contains("<"), canon_nested_col(t))
    out = out.when(low.startswith("varchar"), F.regexp_replace(t, r"(?i)varchar\(\d+\)", "string"))
    out = out.when(low.startswith("decimal"), canon_decimal_col(t))
    out = out.when(low == "timestamp", F.lit("timestamptz"))
    for src, dst in DDL_TO_ICEBERG.items():
        out = out.when(t == src, F.lit(dst))
    return out.otherwise(t)


def iceberg_to_spark_type_col(t: Column) -> Column:
    expr = None
    for src, dst in ICEBERG_TO_SPARK.items():
        expr = F.when(t == src, F.lit(dst)) if expr is None else expr.when(t == src, F.lit(dst))
    return expr.otherwise(t)


def decimal_compatible_col(old: Column, new: Column) -> Column:
    """Column form of the widening rule, incl. the parse-failure-is-
    compatible quirk."""
    pat = r"^decimal\((\d+),\s*(\d+)\)"
    op = F.regexp_extract(old, pat, 1)
    os_ = F.regexp_extract(old, pat, 2)
    np_ = F.regexp_extract(new, pat, 1)
    ns = F.regexp_extract(new, pat, 2)
    both_parse = (op != "") & (np_ != "")
    widened = (os_.cast("int") == ns.cast("int")) & (np_.cast("int") > op.cast("int"))
    return F.when(both_parse, widened).otherwise(F.lit(True))


def _nested_tokens_col(t: Column) -> Column:
    protected = F.regexp_replace(
        canon_nested_col(t), r"decimal\((\d+),\s*(\d+)\)", r"decimal($1;$2)"
    )
    return F.filter(
        F.split(protected, r"(?=[<>,:])|(?<=[<>,:])"), lambda x: x != ""
    )


def _leaf_token_ok_col(o: Column, n: Column) -> Column:
    for src, dst in _NESTED_ALIAS.items():
        o = F.when(o == src, dst).otherwise(o)
        n = F.when(n == src, dst).otherwise(n)
    promo = F.lit(False)
    for src, dsts in NESTED_PROMOTIONS.items():
        promo = promo | ((o == src) & n.isin(*dsts))
    pat = r"^decimal\((\d+);(\d+)\)$"
    op, osc = F.regexp_extract(o, pat, 1), F.regexp_extract(o, pat, 2)
    np_, nsc = F.regexp_extract(n, pat, 1), F.regexp_extract(n, pat, 2)
    dec = (
        (op != "")
        & (np_ != "")
        & (osc.cast("int") == nsc.cast("int"))
        & (np_.cast("int") > op.cast("int"))
    )
    return (o == n) | promo | dec


def nested_compatible_col(old: Column, new: Column) -> Column:
    """Column twin of :func:`nested_compatible` — same tokenization,
    same aligned-pair rule, as zip_with + forall (no UDF)."""
    ot, nt = _nested_tokens_col(old), _nested_tokens_col(new)
    pairs_ok = F.forall(
        F.zip_with(ot, nt, lambda o, n: F.coalesce(_leaf_token_ok_col(o, n), F.lit(False))),
        lambda x: x,
    )
    return (F.size(ot) == F.size(nt)) & F.coalesce(pairs_ok, F.lit(False))


def is_compatible_col(old: Column, new: Column, engine: str = "athena") -> Column:
    """Pure-Column compatibility classifier: CASE over the (small)
    matrix ∨ decimal widening ∨ (iceberg only) element-wise nested
    widening. No UDF, no join needed for the common path — Catalyst
    constant-folds the literal matrix."""
    matrix = COMPATIBILITY[engine]
    in_matrix = F.lit(False)
    for old_t, news in matrix.items():
        if news:
            in_matrix = in_matrix | (
                (F.upper(old) == old_t) & F.upper(new).isin(*news)
            )
    # nested complex types never reach the decimal widening rule
    # (struct<...decimal...> would hit its parse-failure-is-compatible
    # quirk); for iceberg they get the element-wise widening check,
    # for athena/hive any detected nested change stays incompatible
    nested = old.contains("<") | new.contains("<")
    both_decimal = (
        ~nested & F.lower(old).contains("decimal") & F.lower(new).contains("decimal")
    )
    flat_ok = ~nested & (in_matrix | (both_decimal & decimal_compatible_col(old, new)))
    if engine != "iceberg":
        return flat_ok
    both_nested = old.contains("<") & new.contains("<")
    return flat_ok | (both_nested & nested_compatible_col(old, new))

"""Scalar function surface (SURVEY.md §2.8 F1-F25).

Each helper is a thin, documented Column builder mapping a capability
observed in the reference to its idiomatic Spark expression. All are
JVM-evaluated built-ins → they stay inside whole-stage codegen and
vectorized parquet readers at any scale.

Reference points (see SURVEY.md §2.8 for the full table):
- ilike:        lab03/sql/script1.sql:6,36,41
- md5 identity: lab03/sql/script1.sql:67-70
- log parsing:  lab02/tasks.ipynb:184-205, 248
- money math:   magic_shop stg_orders.sql:9, fct_orders.sql:43-44
- epoch millis: lab06 async_data_gen.py:53-54
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


# --- string ops (F1-F9) ----------------------------------------------------

def norm_name(c: ColumnOrName) -> Column:
    """lower(trim(x)) — the identity-normalization the reference uses
    before md5 checksumming people (lab03/sql/script1.sql:67)."""
    return F.lower(F.trim(_col(c)))


def md5_identity(c: ColumnOrName) -> Column:
    """md5(lower(trim(x))) — golden-checksum idiom (script1.sql:67-70)."""
    return F.md5(norm_name(c))


def ilike(c: ColumnOrName, pattern: str) -> Column:
    """Case-insensitive LIKE — Postgres/DuckDB ILIKE parity."""
    return _col(c).ilike(pattern)


def full_name(first: ColumnOrName, last: ColumnOrName) -> Column:
    """initcap(first) || ' ' || initcap(last) — dim_customers.sql:9."""
    return F.concat_ws(" ", F.initcap(_col(first)), F.initcap(_col(last)))


def split_packed_list(c: ColumnOrName, sep: str = ",") -> Column:
    """Comma-packed list-in-string → array<string> (lab01 `items` col).
    `sep` is a LITERAL separator — F.split takes a Java regex, so a
    caller's '|' or '.' would silently shred the string per char
    without the escape."""
    import re

    return F.split(_col(c), re.escape(sep))


# --- time ops (F10-F16) ----------------------------------------------------

LOG_TS_FORMAT = "dd/MMM/yyyy:HH:mm:ss Z"  # lab02/tasks.ipynb:189


def to_log_timestamp(c: ColumnOrName) -> Column:
    """Parse nginx-style '%d/%b/%Y:%H:%M:%S %z' timestamps.
    try_to_timestamp, not to_timestamp: under Spark 4's default ANSI
    mode a single garbled log line would otherwise kill the whole
    job — a dirty-log parser wants NULL + downstream quarantine."""
    return F.try_to_timestamp(_col(c), F.lit(LOG_TS_FORMAT))


def month_bucket(c: ColumnOrName) -> Column:
    """toYYYYMM(ts) equivalent (fct_orders.sql:15) → int yyyyMM."""
    return F.date_format(_col(c), "yyyyMM").cast("int")


def time_of_day_between(c: ColumnOrName, start_hhmm: str, end_hhmm: str) -> Column:
    """ts::time >= 'HH:mm' AND ts::time < 'HH:mm'
    (lab03/sql/script1.sql:17-18). Requires UTC session tz.

    Bounds are compared as zero-padded strings, so they MUST be
    'HH:mm' — '9:00' would silently compare false for every row
    (char '0' < '9'); validated here instead. A start > end range
    wraps past midnight (22:00-06:00 = late-night bucket)."""
    import re as _re

    for v in (start_hhmm, end_hhmm):
        if not _re.fullmatch(r"(?:[01]\d|2[0-3]):[0-5]\d", v):
            raise ValueError(
                f"time_of_day_between bound {v!r} must be zero-padded "
                "'HH:mm' (00:00-23:59)"
            )
    tod = F.date_format(_col(c), "HH:mm")
    if start_hhmm <= end_hhmm:
        return (tod >= start_hhmm) & (tod < end_hhmm)
    return (tod >= start_hhmm) | (tod < end_hhmm)


def epoch_millis_to_ts(c: ColumnOrName) -> Column:
    """Kafka-style long epoch-millis → timestamp (async_data_gen.py:53)."""
    return F.timestamp_millis(_col(c))


def ts_to_epoch_millis(c: ColumnOrName) -> Column:
    return F.unix_millis(_col(c))


# --- money / numeric ops (F18-F21) ----------------------------------------

def money_cents(c: ColumnOrName) -> Column:
    """Exact integer-cents representation of a 2-dp monetary double.

    Engine-wide determinism rule: monetary doubles that are 2-dp by
    contract (prices, balances, discounts) are scaled to BIGINT cents
    before aggregation, so distributed sums are exact and
    order-independent — the Spark-scale equivalent of the reference's
    Decimal quantize discipline (generate_fuel_exports.py:161-163).
    """
    return F.round(_col(c) * 100).cast("long")


def discounted_revenue_cents() -> Column:
    """TPC-H discounted revenue l_extendedprice*(1-l_discount) as
    exact integer cents — THE shared expression for every revenue
    aggregation (the engine's core determinism idiom; previously
    re-inlined at nine sites that had to stay in lockstep)."""
    return F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")


def bind_once(c: Column, build) -> Column:
    """Evaluate `c` ONCE and build an expression from the bound value
    — the single-evaluation shape, shared (r16).

    Any expression referenced more than once inside a
    higher-order-function subtree RE-EVALUATES per reference: HOFs
    (aggregate/transform/zip_with/filter) are CodegenFallback and
    Spark does not CSE their branch-local subtrees. Measured costs of
    getting this wrong: +41 % on s_cosine_topk (r15, the dot fold
    re-evaluated by a branch-nested guard) and +26 % on d_minhash_lsh
    (r16, the tokens() regex split referenced k+3 times in the
    shingle builder). `element_at(transform(array(c), build), 1)`
    materializes `c` exactly once as a lambda variable; `build`
    receives the bound Column and may reference it freely. Output
    type is whatever `build` returns (array element types included).

    Use whenever the input is expensive (a regex split, a fold, a
    decode) and the consuming expression mentions it twice or more."""
    return F.element_at(F.transform(F.array(c), build), 1)


def stable_round(c: ColumnOrName, n: int) -> Column:
    """Engine-stable round of a computed double ratio/score, DOUBLE out.

    round(DOUBLE, n) tie semantics differ per engine (r14 decimal
    lens, tests/test_fuzz_decimal.py): Spark rounds the SHORTEST-REPR
    decimal half-up (1.005 → 1.01), DuckDB value-dependently
    (1.005 → 1.00 but 2.675 → 2.68) — any computed ratio whose
    nearest double prints as an (n+1)-digit tie is a latent
    cross-engine divergence, and the reachable population grows with
    corpus size. The stable route: STRING-cast (both engines print
    the shortest round-trip repr and parse it EXACTLY into decimal),
    round in decimal (HALF_UP in both), then back through STRING to
    DOUBLE (a direct decimal→double conversion is correctly-rounded in
    Spark but float-math scale-dependent in DuckDB — the string hop
    removes that asymmetry; string→double parse is correctly rounded
    in both). Also normalizes signed zero (decimals have none), so
    the -0.0 repr divergence the r14 oracles patched with `+ 0.0`
    cannot arise. NULL-safe.

    TOTALITY GUARD: the decimal route only admits |x| < 1e18 (a raw
    cast of NaN/Inf/|x| >= 1e20 throws CAST_INVALID_INPUT in BOTH
    engines under ANSI). Outside that range the value passes through
    UNCHANGED, which is exactly plain round's behavior there: every
    double with |x| >= 2^53 (~9e15) has no fractional digits, so
    rounding it to n decimals is the identity, and round(NaN/Inf)
    is NaN/Inf. NULL also passes through (abs(NULL) < 1e18 is NULL →
    otherwise branch). The branches are lazily evaluated, so the
    throwing cast is never touched for out-of-range input.

    SINGLE-EVALUATION SHAPE: the input is bound ONCE as a 1-element
    `aggregate` lambda variable before the guard/route reference it
    three times — Spark does not CSE branch-local subtrees, so the
    naive when/otherwise form re-evaluates the input per reference
    (the cosine-guard lesson, SCALE.md r15: +41 % on a fold input;
    quality_score's composite — regex splits + array filters — would
    pay the same doubling per document).
    Oracle twin: queries.registry.stable_round_sql."""
    return F.aggregate(
        F.array(_col(c)),
        F.lit(0.0),
        lambda _, v: F.when(
            F.abs(v) < F.lit(1e18),
            F.round(v.cast("string").cast("decimal(38,18)"), n)
            .cast("string")
            .cast("double"),
        ).otherwise(v),
    )


def to_money(c: ColumnOrName, precision: int = 12, scale: int = 2) -> Column:
    """toDecimal64(x, 2) equivalent (stg_orders.sql:9)."""
    return _col(c).cast(f"decimal({precision},{scale})")


def outstanding(total: ColumnOrName, paid: ColumnOrName) -> Column:
    """amount - ifNull(paid, 0) (fct_orders.sql:43-44)."""
    return _col(total) - F.coalesce(_col(paid), F.lit(0))


# --- json ops (F22) --------------------------------------------------------

def json_get(c: ColumnOrName, path: str) -> Column:
    """get_json_object on a JSON-string column (e.g. events.props)."""
    return F.get_json_object(_col(c), f"$.{path}")


def json_decode(c: ColumnOrName, schema) -> Column:
    """from_json with an explicit schema (spark_kafka_foreachbatch.py:69)."""
    return F.from_json(_col(c), schema)

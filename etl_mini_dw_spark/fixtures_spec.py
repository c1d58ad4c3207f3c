"""Deterministic SCD2 source-fixture specification (FIXTURES.md §B).

The reference's dimension sources are SQL Server *system-versioned temporal
tables*: a current table + an ``_Archive`` twin, each row carrying
``ValidFrom/ValidTo`` with open rows at the ``9999-12-31`` sentinel
(reference `code/SQL_1…sql:271–281`). The driver's testdata has no such
history, so the engine synthesizes it — **deterministically, from key
arithmetic only** (no wall clock, no randomness), so the DuckDB oracle can
reproduce the exact same history in SQL.

Rules (k = natural key):
- deleted(k)   : k % 97 == 0          → archive-only row (delete detection)
- versioned(k) : k % 10 == 0 & !deleted → one closed prior version '#v1'
- null_name(k) : k % 53 == 0          → NULL name on the current row (ISNULL path)
- day offset d(k) = k % 28 days       → spreads valid_from for MAX-watermark tests
- current row : valid_from = (versioned ? EPOCH2 : EPOCH1) + d, valid_to = HIGH
- v1 row      : [EPOCH1 + d, EPOCH2 + d) — contiguous half-open with current
- deleted row : [EPOCH1 + d, EPOCH2 + d), never reopened

Epochs straddle the sales data (1995–2001) so fact as-of lookups resolve
to *both* versions of a versioned key.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime

EPOCH1 = "1994-01-01 00:00:00"
EPOCH2 = "1998-01-01 00:00:00"
HIGH = "9999-12-31 00:00:00"
# current-row sentinel guard: compare > 12-30, not = 12-31, to dodge
# sub-second noise — the reference's own convention (`code/SQL_1…sql:90,310`)
HIGH_GUARD = "9999-12-30 00:00:00"
LOW = "1900-01-01 00:00:00"  # seed watermark (`code/SQL_1…sql:250–255`)
MID = "1996-06-01 00:00:00"  # epoch-split point for incremental tests
# deterministic stand-in for SYSUTCDATETIME() when closing deleted rows
# (`code/SQL_1…sql:978`) so both engines agree
NOW_FIXED = "2002-01-01 00:00:00"


def ts_literal(ts: datetime | None) -> str:
    """A watermark literal that casts back exactly (a truncated one would
    re-extract its own sub-second rows); an empty batch's ``None`` is ``LOW``."""
    return LOW if ts is None else ts.strftime("%Y-%m-%d %H:%M:%S.%f")


UNKNOWN_NK = -1  # unknown-member natural key (`code/SQL_1…sql:622–630`)


@dataclass(frozen=True)
class DimSpec:
    """One SCD2 dimension: base-relation mapping + warehouse column names."""

    name: str  # warehouse dim name, e.g. "dim_customer"
    source: str  # driver parquet table
    nk: str  # warehouse natural-key column name
    sk: str  # warehouse surrogate-key column name
    # warehouse attr name -> (is the version-suffixed/null-ruled "name" attr?)
    name_attr: str = "name"
    extra_attrs: tuple[str, ...] = ()
    # attrs tracked for SCD2 change detection (F5), warehouse names
    tracked: tuple[str, ...] = field(default_factory=tuple)


CUSTOMER = DimSpec(
    name="dim_customer",
    source="customer",
    nk="customer_nk",
    sk="customer_id",
    name_attr="customer_name",
    extra_attrs=("customer_main_sellerid", "customer_category_name"),
    tracked=("customer_name", "customer_main_sellerid", "customer_category_name"),
)

SALESPERSON = DimSpec(
    name="dim_salesperson",
    source="supplier",
    nk="salesperson_nk",
    sk="salesperson_id",
    name_attr="salesperson_fullname",
    extra_attrs=("salesperson_lastname",),
    tracked=("salesperson_fullname",),
)

PRODUCT = DimSpec(
    name="dim_product",
    source="part",
    nk="product_skunumber_nk",
    sk="product_id",
    name_attr="product_name",
    extra_attrs=(),
    tracked=("product_name",),
)

DIMS = {"customer": CUSTOMER, "salesperson": SALESPERSON, "product": PRODUCT}

# warehouse attribute -> logical type ('string' | 'int'); drives the
# unknown-member row values ('Unknown' / -1, `code/SQL_1…sql:622–630`)
ATTR_TYPES: dict[str, str] = {
    "customer_name": "string",
    "customer_main_sellerid": "int",
    "customer_category_name": "string",
    "salesperson_fullname": "string",
    "salesperson_lastname": "string",
    "product_name": "string",
}


def attr_cols(dim: DimSpec) -> list[str]:
    return [dim.name_attr, *dim.extra_attrs]

# suppliers acting as salespeople (reference F4 `IsSalesperson = 1`,
# `code/SQL_1…sql:358`): synthesized as key-arithmetic so both engines agree
SALESPERSON_FILTER_MOD = 7  # s_suppkey % 7 != 0 → is_salesperson

# fact rows referencing a salesperson key outside the dimension (unknown-
# member fallback trigger, FIXTURES.md §B rule 4): l_orderkey % 101 == 0
UNKNOWN_SUPP_MOD = 101
UNKNOWN_SUPP_OFFSET = 100_000

# synthesized fact "edits": order lines with l_orderkey % 113 == 0 get a
# second version (quantity+1) 90 days later — exercises the fact UPDATE
# pass (F6 changed-measure + late-dimension repair, `code/SQL_1…sql:1367–1403`)
FACT_EDIT_MOD = 113
FACT_EDIT_DAYS = 90
FACT_SPLIT = "1999-01-01 00:00:00"  # two-phase fact load split point

# DimDate horizon covering the sales data (reference builds 2000–2050 to
# cover WWI; our orders span 1995–2001 — facts outside the horizon are
# dropped by the intentional inner join, `code/SQL_1…sql:1446–1447`)
DATE_START = "1995-01-01"
DATE_END = "2001-12-31"

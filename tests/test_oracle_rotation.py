"""Rotating driver-gate freshness (r02 verdict item 6).

The driver's correctness gate samples ~50 of the 300+ registered
queries per round; the repo's own full-inventory sweep
(tools/compare_oracle.py) was a manual step. This module wires the
same value-hash compare into the suite as a ROTATING deterministic
slice: each suite run verifies queries[k::N_SLICES] (names sorted) at
sf0.001, where k advances via a run counter persisted in
``.pytest_cache`` (falls back to day-of-year when the cache dir is
unavailable; override with BOW_ORACLE_SLICE=<k> to pin a slice, or
BOW_ORACLE_SLICE=all to sweep everything). With N_SLICES = 6 every
registered query gets re-verified within 6 suite runs — the
"freshness within ~6 runs" contract the round-2 verdict asked for.

Queries without an oracle entry (none today — test_entry_contract
asserts every-query-has-an-oracle) would be counted, not skipped
silently.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from tools.compare_oracle import TABLES, vhash

SF = "/root/testdata/sf0.001"
N_SLICES = 6

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver testdata not mounted"
)


def _slice_index(cache) -> int | str:
    env = os.environ.get("BOW_ORACLE_SLICE")
    if env is not None:
        return "all" if env == "all" else int(env) % N_SLICES
    try:
        k = int(cache.get("bowspark/oracle_rotation", -1)) + 1
        cache.set("bowspark/oracle_rotation", k)
        return k % N_SLICES
    except Exception:  # cache dir unavailable: rotate daily instead
        return dt.date.today().toordinal() % N_SLICES


def test_rotating_oracle_slice(spark, request, capsys):
    names = sorted(entrymod.queries())
    # the cache plugin may be disabled (-p no:cacheprovider): then
    # config has no .cache and the slice rotates daily
    k = _slice_index(getattr(request.config, "cache", None))
    picked = names if k == "all" else names[int(k)::N_SLICES]
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{SF}/{t}.parquet'")
    fails = []
    for name in picked:
        got = qs[name](spark, SF).toPandas()
        if name not in osql:
            fails.append((name, "no oracle"))
            continue
        want = con.sql(osql[name]).df()
        if not (sorted(got.columns) == sorted(want.columns)
                and len(got) == len(want)
                and vhash(got) == vhash(want)):
            fails.append((name, f"{len(got)}/{len(want)} rows"))
    with capsys.disabled():
        print(f"\n[oracle-rotation] slice {k}/{N_SLICES}: "
              f"{len(picked)} queries, {len(fails)} failures")
    assert not fails, fails

"""The engine's declared workload: queries + DuckDB oracle SQL.

Each entry exercises one operator family from SURVEY.md §2 (or a
beyond-reference scale operator) through the engine's public surface,
paired with ANSI SQL an independent engine (DuckDB) can run on the same
parquet tables. The driver hash-compares both result sets, so every
query here is an executable correctness contract.

Determinism rules used throughout (so Spark and DuckDB agree bit-for-bit):
- money/measure aggregation is done in DECIMAL(18,2) (the data is
  2-decimal exact) and only cast to DOUBLE at the end;
- a high-scale decimal sum is ROUNDed to its natural scale (2dp for
  money) BEFORE the final double cast: at scale 6 a ~1e10 sum's
  unscaled integer exceeds 2^53, where decimal→double conversion is
  not correctly rounded in every engine (found by the sf1 oracle
  spot-check — DuckDB's hugeint/10^scale render of q1's sum_charge
  landed one ulp away from Spark's BigDecimal render; the exact
  decimal sums were identical);
- averages are exact-decimal sums divided as doubles at the end;
- LIMIT queries carry a total ORDER BY (tiebreak on a key);
- timestamps are bucketed with floor(epoch/N) (truncation-safe in both
  engines) or cast to DATE;
- a NANO-UNIT INTEGER SUM is rounded to its reported 6dp entirely in
  integral arithmetic (util.round6_nanos_ratio_expr: half-away micros
  = (|s|+500) DIV 1000, mirrored with // in DuckDB), never
  round(sum/1e9, 6): a sum ending in exactly ...500 nanos is a TRUE
  6dp midpoint, double(k/1e9) lands one side of it, and Spark
  (BigDecimal on the shortest decimal repr) and DuckDB (binary value)
  round opposite ways — found by the round-11 sf3 spot-check on
  dsir_scores (−64 757 500 nanos: Spark −0.064758, DuckDB −0.064757);
- SIGNED sub-grain scores (z, r/rho, PMI, PSI terms, log-ratios —
  anything continuous that can land in (−5·10⁻⁷, 0) before a 6dp
  round) add ``+ 0.0`` after the final round ON BOTH SIDES: Spark's
  F.round runs through BigDecimal, which has no signed zero (+0.0
  out), while DuckDB's round keeps IEEE −0.0 — same value, different
  bits, failed hash. Found by the round-10 sf1 spot-check on
  dsir_scores (one doc's score summed to −386 integer nanos);
- a 9dp round of a RATIO OF SMALL INTEGERS (a mean over n tokens, a
  per-key average) must be computed in exact integer arithmetic
  (half-away-from-zero: sign·((2·|a| + n) DIV (2·n))), never
  round(double, 9): the two engines round the SAME double differently
  near representation midpoints (Spark rounds the shortest decimal
  repr via BigDecimal; DuckDB rounds the binary value), and
  small-denominator rationals land on those midpoints often
  (classifier logit: 6 docs in 50k at sf1).
"""

import glob
import json
import os

from betl_spark.contract.tpch import QUERIES as _TPCH
from betl_spark.contract.operators import QUERIES as _OPERATORS
from betl_spark.contract.scale import QUERIES as _SCALE
from betl_spark.contract.streaming_delta import QUERIES as _STREAMING
from betl_spark.contract.pipeline_e2e import QUERIES as _PIPELINE
from betl_spark.contract.round3 import QUERIES as _ROUND3
from betl_spark.contract.round5 import QUERIES as _ROUND5
from betl_spark.contract.round6 import QUERIES as _ROUND6
from betl_spark.contract.round7 import QUERIES as _ROUND7
from betl_spark.contract.round8 import QUERIES as _ROUND8
from betl_spark.contract.round9 import QUERIES as _ROUND9
from betl_spark.contract.round10 import QUERIES as _ROUND10
from betl_spark.contract.round11 import QUERIES as _ROUND11
from betl_spark.contract.linkage import QUERIES as _LINKAGE
from betl_spark.contract.round12 import QUERIES as _ROUND12
from betl_spark.contract.round13 import QUERIES as _ROUND13
from betl_spark.contract.round14 import QUERIES as _ROUND14

_ALL = {
    **_TPCH,
    **_OPERATORS,
    **_SCALE,
    **_STREAMING,
    **_PIPELINE,
    **_ROUND3,
    **_ROUND5,
    **_ROUND6,
    **_ROUND7,
    **_ROUND8,
    **_ROUND9,
    **_ROUND10,
    **_ROUND11,
    **_LINKAGE,
    **_ROUND12,
    **_ROUND13,
    **_ROUND14,
}

# The driver's per-round CORRECTNESS run covers the FIRST 50 entries,
# so dict order is the verification schedule (ROTATION.md):
#
#   window = NEW_THIS_ROUND (queries with no driver green row yet)
#          + all other queries, strictly oldest-green-first
#            (ties broken by name),
#
# where "oldest green" is LAST_VERIFIED, computed at import from the
# committed CORRECTNESS_r*.json files, so the schedule can never go
# stale against the rows the driver has written.
_REPO = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))


def _last_verified() -> dict[str, int]:
    """Latest driver-green round per query. A FULL green matched
    rows, schema and value hash; a PARTIAL green matched rows and
    schema with no hash recorded (the rows-only check for queries
    without a SQL-expressible hash). A full green counts first; a
    partial green counts only for a query that has never held a full
    green."""
    full: dict[str, int] = {}
    partial: dict[str, int] = {}
    for path in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
        with open(path) as fh:
            rows = json.load(fh)
        for name, v in rows.items():
            if v.get("err") or not (
                v.get("rows_match") and v.get("schema_match")
            ):
                continue
            if v.get("hash_match") is True:
                full[name] = max(full.get(name, 0), rnd)
            elif v.get("hash_match") is None:
                partial[name] = max(partial.get(name, 0), rnd)
    return {**partial, **full}


LAST_VERIFIED = _last_verified()

NEW_THIS_ROUND = [n for n in _ALL if n not in LAST_VERIFIED]

_PRIORITY = [
    *NEW_THIS_ROUND,
    *sorted(
        (n for n in _ALL if n not in set(NEW_THIS_ROUND)),
        key=lambda n: (LAST_VERIFIED.get(n, 0), n),
    ),
]

QUERIES: dict = {}
ORACLES: dict = {}
for _name in [*(_n for _n in _PRIORITY if _n in _ALL), *_ALL]:
    if _name in QUERIES:
        continue
    _fn, _sql = _ALL[_name]
    QUERIES[_name] = _fn
    if _sql is not None:
        ORACLES[_name] = _sql

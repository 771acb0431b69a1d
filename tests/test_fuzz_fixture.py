"""Seeded-fuzzer regressions: tools/fuzz_fixture.py findings.

Seeds 0-4 sweep clean after fixing four distinct defect classes the
hand-built fixtures missed:

- signed zero: WHICH zero IEEE min/max/subtraction return is
  engine-dependent; the comparator canonicalizes -0.0 (values were equal);
- JSON null-field packing: the pack oracles NULL-propagated `||` where
  Spark's to_json drops null fields — a '{}' props row nulled the JSON;
- percentile interpolation beyond double resolution: at microsecond-gap
  magnitudes (~1e12) the double ulp exceeds the 4-dp rounding, so
  interarrival_time_stats now interpolates its brackets in exact integer
  arithmetic on both engines;
- degenerate-branch guards: Kaplan-Meier's total-churn step (LN(0)), a
  zero net period delta (share division), and the DECIMAL-literal
  double-rounding hazard in the s-curve's injected theory constants.

Full sweep: ``python tools/fuzz_fixture.py <seed> --sweep`` — every
oracle-backed query is expected to pass.

Seed 11 found a FIFTH class — the double-round tie: ``ROUND(q, 6)``
where the quotient q sits within an ulp of a decimal .5 boundary rounds
the full binary expansion in Spark (BigDecimal HALF_UP) but the scaled
double in DuckDB, landing on opposite sides.  Fix: when the operands are
already engine-identical (exact decimal sum → one double cast → one IEEE
divide), emit the UNROUNDED quotient — deterministic by IEEE 754 —
instead of introducing a rounding step that is itself engine-divergent
(timeseries_seasonal_profile; pinned below on the seed-11 fixture).

Seeds >= 20 widen the generator (sub-day timestamp knife edges, NFC/NFD
unicode hazards, negative metrics/balances); the 20-39 band sweeps clean
after fixing three more classes on it: seed 20's float-EPOCH-cast
rounding (SEVENTH class — DuckDB CAST(EPOCH(ts) AS BIGINT) rounds where
Spark's unix_timestamp floors; oracle now floors in integer EPOCH_US),
seed 23's round-tie recurrence in the attribution credit (the raw IEEE
quotient is emitted), and seed 37's float32->decimal cast divergence
(EIGHTH class, see FIXED_BY_SEED).

Seeds >= 40 aim the generator at the trainers (quality-gate knife-edge
documents, dense `w####` vocabularies, dictionary-budget boundaries);
seed 43 found a NINTH class — the first OUTPUT-VOLUME defect (SymSpell's
ungated distance-1 pair set is quadratic on dense singleton vocab: >2M
agreed rows breached the comparator bound and spilled DuckDB to disk
exhaustion, which also took down the unrelated llr_collocations run
sharing the device).  Fixed with the index-side frequency-dominance
gate; pinned in FIXED_BY_SEED.
"""

from __future__ import annotations

import pytest

from tools.check_oracle import _norm_cell, check, duck_views
from tools.fuzz_fixture import SIZES, build

# multi-minute sweep: excluded from the default run (pytest.ini)
pytestmark = pytest.mark.slow

# every query a seed-0..4 sweep caught (seed in comment)
FIXED = [
    "attribution_linear_multitouch",   # 0: signed zero
    "etl_pack_custom_fields",          # 0: JSON null-field drop parity
    "etl_users_pipeline_shape",        # 0: same
    "interarrival_time_stats",         # 0: percentile ulp at 1e12
    "period_delta_contribution",       # 0 (zero sign), 3 (zero total delta)
    "timeseries_seasonal_profile",     # 0: signed zero
    "winsorize_event_values",          # 0: signed zero
    "lsh_s_curve_calibration",         # 2: DECIMAL-literal parse
    "survival_kaplan_meier",           # 2: LN(0) on total churn
]

#: seed findings: seed -> queries fixed on it (11 and 16 are the
#: double-round-tie class; seed 16's fix additionally surfaced that
#: DuckDB's // on DECIMAL operands is plain DOUBLE division — oracle
#: integer division must go through HUGEINT)
FIXED_BY_SEED = {
    11: ["timeseries_seasonal_profile"],
    16: ["pinball_loss_eval"],
    # seed 19: a SIXTH class — a non-midnight first order (23:00) shifted
    # the oracle's interval-on-timestamp as-of anchor 23h from the plan's
    # date-truncated one; both sides now truncate to DATE explicitly
    19: ["scd2_snapshot_asof"],
    # seed 20 (the sub-day knife-edge axis): a SEVENTH class —
    # float-EPOCH-cast ROUNDS where Spark's unix_timestamp FLOORS, so a
    # 23:59:59.999999 instant diverged by one second; the oracle now
    # floors in exact integer microseconds (EPOCH_US // 1000000)
    20: ["scalar_date_funcs"],
    # seed 23: the seed-11/16 round-tie class in a new costume — ROUND on
    # an already-deterministic double division (value/n_touch landed on a
    # 7th-decimal 5; Spark rounds the shortest decimal repr half-up,
    # DuckDB rounds the binary value).  Fixed by emitting the raw IEEE
    # quotient: correctly-rounded division is bit-identical across
    # engines, so the cosmetic round only added divergence risk.
    23: ["attribution_linear_multitouch"],
    # seed 37: an EIGHTH class — float32 cast STRAIGHT to a scale-8
    # decimal diverges between engines on ~20% of values (Spark rounds
    # the float's SHORTEST repr, ~7 sig digits; DuckDB rounds its binary
    # expansion: 949 element mismatches on this fixture), shifting a
    # k-means centroid by 1e-6 and every downstream distance with it.
    # Fixed by widening float -> DOUBLE before the decimal cast (the
    # double's shortest repr carries the full binary value) and
    # quantizing the centroid mean in exact integer arithmetic; dist is
    # now emitted as the raw bit-identical squared-L2 fold.
    # semdedup_kmeans chains the kmeans_lloyd oracle, so it carries the
    # same fix and is pinned on the same seed.
    37: ["kmeans_lloyd", "semdedup_kmeans"],
    # seed 43: a NINTH class — OUTPUT-VOLUME blow-up, not a value
    # divergence: the trainer axis's dense `w####` singleton vocabulary
    # has >2M genuine distance-1 pairs, so the ungated SymSpell pair set
    # (both engines AGREED on it) breached the comparator bound and
    # spilled DuckDB to disk exhaustion.  Fixed by the frequency-dominance
    # gate symspell practice already implies (typo = rare token 4x-
    # dominated by a frequent one) applied as an INDEX-SIDE pre-filter
    # (deletes index over the dictionary side only) — lossless under the
    # gate, bounds the join by |dictionary| x neighborhood.  The same
    # seed exposed the ORACLE-side twin of the class in llr_collocations:
    # DuckDB's default CTE inlining re-expands the tokenize pipeline per
    # reference and its join over the inlined trees went pathological on
    # the 112k-unique-bigram fixture (>550 s); pc/parts are now
    # MATERIALIZED (2 s, values identical).
    43: ["spelling_variants_symspell", "llr_collocations"],
}


@pytest.fixture(scope="module")
def fuzz0(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fuzz0"))
    build(spark, 0, out)
    return out


@pytest.fixture(scope="module")
def duckf(fuzz0):
    with duck_views(fuzz0) as con:
        yield con


def test_fixture_is_deterministic(spark, tmp_path_factory):
    """The seed IS the repro recipe: two builds of seed 0 are identical."""
    from pyspark.sql import functions as F

    a = str(tmp_path_factory.mktemp("fa"))
    b = str(tmp_path_factory.mktemp("fb"))
    build(spark, 0, a)
    build(spark, 0, b)
    for t in ("lineitem", "events", "documents"):
        da = spark.read.parquet(f"{a}/{t}.parquet")
        db = spark.read.parquet(f"{b}/{t}.parquet")
        assert da.count() == SIZES[t] == db.count()
        assert da.exceptAll(db).count() == 0


@pytest.mark.parametrize("name", FIXED)
def test_oracle_match_on_fuzz_seed0(spark, fuzz0, duckf, name):
    problems = check(spark, duckf, name, fuzz0)
    assert problems == [], problems


@pytest.mark.parametrize(
    ("seed", "name"),
    [(s, n) for s, names in FIXED_BY_SEED.items() for n in names],
)
def test_oracle_match_on_found_seeds(spark, tmp_path_factory, seed, name):
    """Seed 11's seasonal mean lands within an ulp of a 6-dp rounding tie
    (67.5977435…); seed 16 lands one pinball per-day loss on the same
    boundary: the exact formulations must match where the ROUND()ed ones
    diverged."""
    out = str(tmp_path_factory.mktemp(f"fuzz{seed}"))
    build(spark, seed, out)
    with duck_views(out) as con:
        problems = check(spark, con, name, out)
    assert problems == [], problems


#: trainer-axis standing regression: seed 40 exercises the
#: quality-rule knife edges / single-class / long-doc generator paths;
#: these queries consume them most directly (GD trainer pair, BPE, the
#: label-rule twin, token stats)
TRAINER_AXIS_QUERIES = [
    "quality_classifier_train",
    "quality_classifier_predict",
    "bpe_train_merges",
    "doc_quality_filter",
    "text_token_stats",
]


@pytest.fixture(scope="module")
def fuzz40(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fuzz40"))
    build(spark, 40, out)
    return out


@pytest.fixture(scope="module")
def duckf40(fuzz40):
    with duck_views(fuzz40) as con:
        yield con


@pytest.mark.parametrize("name", TRAINER_AXIS_QUERIES)
def test_oracle_match_on_trainer_axis_seed40(spark, fuzz40, duckf40, name):
    """The trainer-axis generator's first seed stays a permanent
    regression for the trainer-aimed axes (the 40-47 band sweeps clean)."""
    problems = check(spark, duckf40, name, fuzz40)
    assert problems == [], problems


def test_trainer_axes_only_from_seed40(spark, tmp_path_factory):
    """Seeds below 40 must stay byte-identical to the fixtures built
    before the trainer axes existed: those generator paths draw NOTHING
    from the RNG stream on the legacy branch.  The md5 below is of the
    seed-39 documents table as the pre-trainer-axis generator built it,
    so any edit that perturbs legacy seeds fails here."""
    import hashlib

    from tools.fuzz_fixture import TRAINER_AXES_FROM_SEED

    assert TRAINER_AXES_FROM_SEED == 40
    out = str(tmp_path_factory.mktemp("fp39"))
    build(spark, 39, out)
    rows = sorted(
        (r.doc_id, r.text)
        for r in spark.read.parquet(f"{out}/documents.parquet").collect()
    )
    assert (
        hashlib.md5(repr(rows).encode()).hexdigest()
        == "7a8af7727792ef069c0d362c3fb97c3c"
    )


def test_comparator_canonicalizes_signed_zero():
    assert _norm_cell(-0.0) == 0.0
    assert repr(_norm_cell(-0.0)) == "0.0"
    assert _norm_cell(0.0) == 0.0
    assert _norm_cell(1.5) == 1.5
    assert _norm_cell(float("nan")) == "NaN"

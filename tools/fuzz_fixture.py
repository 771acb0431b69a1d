"""Seeded adversarial-fixture fuzzer: property-based differential testing
at catalog granularity.

The degenerate fixtures (sf0 / sf_one / sf_hostile) are hand-built
worst cases; this tool GENERALIZES them — generate a random fixture from a
seed, adversarial WITHIN the declared data domains, and sweep the whole
catalog differentially against DuckDB.  Any seed that fails is a repro
recipe (the seed is the bug report).

In-domain adversarial choices (everything the engines could disagree on):

- ties everywhere: every non-key column draws from SMALL value pools, so
  sort orders, window peers, argmin/argmax, and rank ties are dense —
  the class the ~sf1 fixture caught (min_by ties, session-id oracle
  nondeterminism);
- knife-edge numerics: 2-dp money includes .x0/.x5/.99 cents and the
  query literals' filter boundaries (0.05/0.07 discounts, quantity 24,
  totalprice 400000); sums cross decimal/double rounding edges;
- boundary timestamps: event/order times cluster ON the exact instants
  the catalog filters by ('1996-01-01', '2001-09-01', ...), including
  heavy duplicate timestamps (watermark/session/asof tie discipline);
- skew + orphans: one hot customer/supplier/part; some FKs point nowhere
  (outer-join and semi-join edges);
- text: duplicated docs, near-dup variants (one token appended), empty
  and single-token docs, shared boilerplate shingles;
- embeddings: duplicate vectors, the zero vector, near-parallel pairs
  (cosine ties), and values on 2^-k boundaries (the decimal-quantization
  tie class the sf0.1 sweep found).

Money/metric domains stay valid by construction (<=2dp money, <=4dp
rates, finite metrics) — the domain GATES (units residual, finite-metric)
must pass on every generated fixture; violating them is the other tools'
job (tools/make_sf_hostile.py).

Three wider axes are ACTIVE FOR SEEDS >= 20 ONLY
(``WIDE_AXES_FROM_SEED``), so the seed-0..19 fixtures that pin earlier
defect classes stay byte-identical:

- sub-day timestamp knife edges: instants that are midnight in non-UTC /
  half- and quarter-hour-offset zones (18:30, 18:15, 03:30, 11:00 UTC),
  DST-transition wall times (02:30 on historic spring-forward dates), and
  .999999/.000001-microsecond date-boundary straddles — generalizing the
  seed-19 midnight class to every date-truncation/window-bucket site;
- unicode normalization + case-mapping hazards in document text: NFC vs
  NFD pairs (café, naïve), compatibility ligatures (ﬁ), sharp-s/case
  round-trips (ß/STRASSE), Turkish dotted İ, combining marks, zero-width
  joiners inside words, and astral-plane emoji (surrogate-pair length
  class) — tokenization, code-point counting, and lower()/upper()
  differ across regex engines and collations if anything normalizes;
- negative/zero values wherever the declared domain allows them:
  supplier balances and event metric values go negative (customer
  balances already did), exercising abs/quantile/sign-sensitive paths.

Trainer-aimed axes are ACTIVE FOR SEEDS >= 40 ONLY
(``TRAINER_AXES_FROM_SEED``), aimed at the preconditions of the GD
classifier and BPE trainers:

- quality-rule knife edges: document token counts ON the label gates
  (19/20/21 and 999/1000/1001 for ``20 <= n <= 1000``), stopword ratios
  exactly AT ``2s == n``, and distinct ratios straddling ``20d > n`` —
  the previous generator never exceeded 40 tokens, so the upper gate and
  both ratio boundaries were unreachable;
- single-class label corpora: some seeds produce ALL-pass or ALL-fail
  corpora (all-y=1 / all-y=0 gradients — the GD loop must stay exact when
  one class is absent);
- long documents (up to ~1200 tokens): larger per-row feature magnitudes
  through the GD products and a deeper BPE dictionary.

Usage:
    python tools/fuzz_fixture.py <seed> [out_dir]   # generate only
    python tools/fuzz_fixture.py <seed> --sweep     # generate + full sweep
Exit 1 if the sweep fails.  tests/test_fuzz_fixture.py runs a fixed seed's
generation + a query subset as the standing regression.
"""

from __future__ import annotations

import os
import random
import subprocess
import sys
from datetime import datetime, timedelta

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EMB_DIM = 64

SIZES = {
    "region": 5,
    "nation": 25,
    "customer": 120,
    "supplier": 40,
    "part": 80,
    "orders": 450,
    "lineitem": 1300,
    "events": 1600,
    "documents": 200,
    "embeddings": 160,
}

_BOUNDARY_TS = [
    datetime(1996, 1, 1),
    datetime(1996, 4, 1),
    datetime(1996, 9, 1),
    datetime(1996, 10, 1),
    datetime(1997, 1, 1),
    datetime(1998, 1, 1),
    datetime(2001, 9, 1),
]

_VOCAB = (
    "the a key order sort table scan merge part window small hash join "
    "batch stream spark data row column filter value query big slow fast"
).split()

#: seeds >= this get the wide timestamp/unicode/sign axes; below it,
#: fixtures stay byte-identical to the ones that pinned the earlier
#: defect classes
WIDE_AXES_FROM_SEED = 20

# UTC instants that are midnight (or a DST wall-time hole) somewhere:
# +05:30 (18:30 prev day), +05:45 (18:15), -03:30 (03:30), +13:00 (11:00);
# plus US spring-forward wall times and microsecond date-boundary straddles.
_WIDE_TS = [
    datetime(1996, 3, 31, 18, 30),
    datetime(1996, 3, 31, 18, 15),
    datetime(1996, 4, 1, 3, 30),
    datetime(1996, 4, 1, 11, 0),
    datetime(1997, 4, 6, 2, 30),     # inside the US spring-forward hole
    datetime(1997, 10, 26, 1, 30),   # repeated fall-back wall time
    datetime(1995, 12, 31, 23, 59, 59, 999999),
    datetime(1996, 1, 1, 0, 0, 0, 1),
    datetime(2001, 8, 31, 23, 59, 59, 999999),
    datetime(2001, 9, 1, 0, 0, 0, 1),
]

# unicode hazard tokens: NFC/NFD pairs, ligatures, case-mapping traps,
# combining marks, ZWJ-inside-word, astral-plane (surrogate pairs).
# Escape sequences, not literals, so the exact code points are pinned.
_WIDE_VOCAB = [
    "caf\u00e9",             # cafe NFC (precomposed e-acute)
    "cafe\u0301",            # cafe NFD (e + combining acute, same glyph)
    "na\u00efve",            # naive NFC
    "nai\u0308ve",           # naive NFD
    "\ufb01le",              # "file" with the fi compatibility ligature
    "stra\u00dfe",           # sharp-s upper-cases to SS (length-changing)
    "STRASSE",
    "\u0130stanbul",         # Turkish dotted capital I (lower() expands)
    "a\u200db",              # zero-width joiner inside a word
    "x\u0300\u0301",        # stacked combining marks on one base
    "\U0001f642ok",          # astral-plane emoji prefix (surrogate pair)
    "\U0001f9ea",            # lone astral code point
]


#: seeds >= this get the trainer-aimed axes; below, fixtures stay
#: byte-identical to the seeds that pin earlier defect classes
TRAINER_AXES_FROM_SEED = 40

#: seeds >= this additionally draw PRE-EPOCH timestamps: DuckDB's ``//``
#: truncates toward zero while Spark's ``unix_timestamp`` floors, so every
#: second-resolution epoch conversion diverges by 1s for any instant
#: before 1970 unless the oracle uses a sign-safe integer floor.  The axis
#: crosses the epoch from both sides at microsecond resolution.
PRE_EPOCH_AXES_FROM_SEED = 45

_PRE_EPOCH_TS = [
    datetime(1969, 12, 31, 23, 59, 59, 999999),  # epoch minus 1 us
    datetime(1969, 12, 31, 23, 59, 59),          # epoch minus 1 s exactly
    datetime(1970, 1, 1, 0, 0, 0),               # the epoch itself
    datetime(1970, 1, 1, 0, 0, 0, 1),            # epoch plus 1 us
    datetime(1969, 12, 31, 18, 30),              # pre-epoch offset-midnight
    datetime(1969, 7, 20, 20, 17, 40),           # deep pre-epoch, odd seconds
    datetime(1950, 6, 15, 12, 34, 56, 789999),   # sub-second knife, far past
    datetime(1900, 1, 1, 0, 0, 0),               # century boundary
]

#: the engine's English stoplist intersection used by the quality label
#: (plans/classifier_train._STOPLIST_SQL — keep in sync)
_STOP_TOKENS = ["the", "a", "an", "and", "of", "to", "in", "is", "on"]
_NONSTOP = [w for w in _VOCAB if w not in _STOP_TOKENS]


def _trainer_text(rng: random.Random) -> str:
    """Document whose token count/composition sits ON a quality-rule gate:
    ``20 <= n <= 1000``, ``2*stop <= n``, ``20*distinct > n``."""
    n = rng.choice([19, 20, 21, 40, 999, 1000, 1001, rng.randrange(3, 1200)])
    comp = rng.random()
    if comp < 0.35:
        # stopword-ratio boundary: s = n//2 gives 2s == n exactly (passes
        # the gate) for even n, 2s == n-1 for odd — both knife edges
        s = n // 2
        toks = [rng.choice(_STOP_TOKENS) for _ in range(s)] + [
            f"w{rng.randrange(10_000)}" for _ in range(n - s)
        ]
    elif comp < 0.7:
        # distinct-ratio boundary: pool size d straddles 20d > n
        d = max(n // 20, 1) + rng.choice([0, 1])
        pool = [f"u{j}" for j in range(d)]
        toks = [pool[j % d] for j in range(n)]
    else:
        toks = [rng.choice(_NONSTOP) for _ in range(n)]
    rng.shuffle(toks)
    return " ".join(toks)


def _money(rng: random.Random, lo: float = 0.0, hi: float = 105000.0) -> float:
    """Exact <=2dp double, biased to tie-heavy and knife-edge cents."""
    pick = rng.random()
    if pick < 0.3:
        cents = rng.choice([0, 1, 5, 50, 99, 999995, 40000000, 10450000])
    elif pick < 0.6:
        cents = rng.choice([12345, 67890, 100000, 2500050])  # dense ties
    else:
        cents = rng.randrange(int(lo * 100), int(hi * 100))
    return min(max(cents, int(lo * 100)), int(hi * 100)) / 100.0


def _rate(rng: random.Random, hi_bp: int = 1000) -> float:
    """Exact <=4dp rate in [0, hi_bp/1e4], boundary-biased (.05/.07)."""
    bp = rng.choice([0, 1, 499, 500, 501, 699, 700, 701, hi_bp, rng.randrange(hi_bp + 1)])
    return min(bp, hi_bp) / 10000.0


def _ts(rng: random.Random, wide: bool = False, pre_epoch: bool = False) -> datetime:
    if pre_epoch and rng.random() < 0.10:
        return rng.choice(_PRE_EPOCH_TS)
    if wide and rng.random() < 0.15:
        return rng.choice(_WIDE_TS)
    if rng.random() < 0.35:
        return rng.choice(_BOUNDARY_TS)
    base = datetime(1995, 1, 1) + timedelta(days=rng.randrange(0, 2500))
    return base + timedelta(hours=rng.randrange(24))


def _text(rng: random.Random, shared: list[str], wide: bool = False) -> str:
    vocab = _VOCAB + _WIDE_VOCAB if wide else _VOCAB
    pick = rng.random()
    if pick < 0.05:
        return rng.choice(["", " ", "one"])
    if pick < 0.25:
        return rng.choice(shared)  # exact duplicate
    if pick < 0.40:
        return rng.choice(shared) + " " + rng.choice(vocab)  # near-dup
    n = rng.randrange(3, 40)
    return " ".join(rng.choice(vocab) for _ in range(n))


def _vec(rng: random.Random, pool: list[list[float]]) -> list[float]:
    pick = rng.random()
    if pick < 0.05:
        return [0.0] * EMB_DIM
    if pick < 0.25 and pool:
        return rng.choice(pool)  # exact duplicate vector
    # values on 2^-k boundaries: the decimal-quantization tie class
    vals = [rng.choice([0.0, 0.5, 0.25, 0.125, -0.5, 1.0 / 1024, rng.uniform(-1, 1)]) for _ in range(EMB_DIM)]
    return vals


def build(spark, seed: int, out_dir: str) -> str:
    rng = random.Random(seed)
    wide = seed >= WIDE_AXES_FROM_SEED
    pre = seed >= PRE_EPOCH_AXES_FROM_SEED
    os.makedirs(out_dir, exist_ok=True)

    regions = [(i, n) for i, n in enumerate(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])]
    spark.createDataFrame(regions, "r_regionkey INT, r_name STRING").coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/region.parquet")

    nations = [(i, f"NATION_{i}", rng.randrange(5)) for i in range(SIZES["nation"])]
    spark.createDataFrame(nations, "n_nationkey INT, n_name STRING, n_regionkey INT").coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/nation.parquet")

    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    customers = [
        (i, f"Customer#{i:09d}", rng.randrange(25), round(rng.choice([-999.99, -0.01, 0.0, 100.0, 9999.99, _money(rng, 0, 9999)]), 2), rng.choice(segs))
        for i in range(SIZES["customer"])
    ]
    spark.createDataFrame(customers, "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING").coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/customer.parquet")

    suppliers = [
        (
            i,
            f"Supplier#{i:09d}",
            rng.randrange(25),
            round(rng.choice([-888.88, -0.01, 0.0, _money(rng, 0, 9999)]), 2)
            if wide
            else _money(rng, 0, 9999),
        )
        for i in range(SIZES["supplier"])
    ]
    spark.createDataFrame(suppliers, "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE").coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/supplier.parquet")

    adjs, nouns = ["red", "green", "cold", "hot", "small", "large"], ["widget", "bolt", "gear", "cog"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    parts = [
        (i, f"{rng.choice(adjs)} {rng.choice(nouns)}", f"Brand#{rng.choice([11, 22, 33, rng.randrange(1, 25)])}",
         rng.choice(types), rng.choice([1, 15, 10, 30, 20, 50, rng.randrange(1, 51)]), _money(rng, 100, 2000))
        for i in range(SIZES["part"])
    ]
    spark.createDataFrame(parts, "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, p_retailprice DOUBLE").coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/part.parquet")

    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    hot_cust = rng.randrange(SIZES["customer"])
    orders = []
    for i in range(SIZES["orders"]):
        cust = hot_cust if rng.random() < 0.2 else rng.randrange(SIZES["customer"] + 10)  # +10: orphans
        price = rng.choice([399999.99, 400000.00, 400000.01, _money(rng, 900, 450000)])
        orders.append((i, cust, rng.choice("FOP"), price, _ts(rng, wide, pre), rng.choice(prios)))
    spark.createDataFrame(orders, "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING").coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")

    hot_part, hot_supp = rng.randrange(SIZES["part"]), rng.randrange(SIZES["supplier"])
    lineitems = []
    for i in range(SIZES["lineitem"]):
        okey = rng.randrange(SIZES["orders"] + 5)  # a few orphan orderkeys
        lineitems.append((
            okey,
            hot_part if rng.random() < 0.15 else rng.randrange(SIZES["part"]),
            hot_supp if rng.random() < 0.15 else rng.randrange(SIZES["supplier"]),
            rng.randrange(1, 8),
            float(rng.choice([1, 23, 24, 25, 50, rng.randrange(1, 51)])),
            _money(rng, 900, 105000),
            _rate(rng, 1000),
            _rate(rng, 800),
            rng.choice("ANR"),
            rng.choice("FO"),
            _ts(rng, wide, pre),
        ))
    spark.createDataFrame(lineitems, "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP").coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")

    etypes = ["click", "view", "purchase", "signup", "error"]
    hot_user = rng.randrange(60)
    events = []
    for i in range(SIZES["events"]):
        ts = _ts(rng, wide, pre)
        if rng.random() < 0.25:
            ts = ts.replace(minute=0, second=0)  # heavy duplicate instants
        events.append((
            i,
            ts,
            hot_user if rng.random() < 0.25 else rng.randrange(60),
            rng.choice(etypes),
            round(
                rng.choice(
                    [0.0, -0.0, 1.0, 99.99, 100.0, -99.99, -1.0, -0.000001,
                     rng.uniform(-500, 500)]
                    if wide
                    else [0.0, -0.0, 1.0, 99.99, 100.0, rng.uniform(0, 500)]
                ),
                6,
            ),
            rng.choice(['{"k": 0}', '{"k": 87}', '{}', f'{{"k": {rng.randrange(100)}}}']),
        ))
    spark.createDataFrame(events, "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING").coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/events.parquet")

    bvocab = _VOCAB + _WIDE_VOCAB if wide else _VOCAB
    shared = [
        " ".join(rng.choice(bvocab) for _ in range(rng.randrange(8, 25)))
        for _ in range(12)
    ]
    langs = ["en", "es", "de", "fr", "zh"]
    trainer = seed >= TRAINER_AXES_FROM_SEED
    # per-seed label regime: most seeds mix; some produce single-class
    # corpora (all-y=1 / all-y=0 under the quality-rule label)
    regime = (
        rng.choice(["mixed"] * 4 + ["all_pass", "all_fail"]) if trainer else "legacy"
    )
    docs = []
    for i in range(SIZES["documents"]):
        if regime == "all_pass":
            # in [20, 1000] tokens, all distinct, no stopwords -> y=1 always
            n = rng.randrange(20, 1001)
            t = " ".join(f"p{i}x{j}" for j in range(n))
        elif regime == "all_fail":
            # under 20 or over 1000 tokens -> y=0 always (empty included)
            n = rng.choice([0, 1, 5, 19, 1001, 1100])
            t = " ".join(rng.choice(_NONSTOP) for _ in range(n))
        elif regime == "mixed" and rng.random() < 0.5:
            t = _trainer_text(rng)
        else:
            t = _text(rng, shared, wide)
        docs.append((i, t, rng.choice(langs), f"src{rng.randrange(8)}", len(t)))
    spark.createDataFrame(docs, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT").coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    pool: list[list[float]] = []
    embs = []
    for i in range(SIZES["embeddings"]):
        v = _vec(rng, pool)
        pool.append(v)
        embs.append((i, [float(x) for x in v], rng.randrange(8)))
    spark.createDataFrame(embs, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT").coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")
    return out_dir


def main() -> int:
    from lms_etl_pipeline_spark.session import get_spark

    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    args = [a for a in sys.argv[2:] if not a.startswith("--")]
    out = args[0] if args else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch",
        f"fuzz_{seed}",
    )
    spark = get_spark("fuzz-fixture")
    spark.sparkContext.setLogLevel("ERROR")
    build(spark, seed, out)
    print(f"fuzz fixture (seed={seed}) written to {out}")
    if "--sweep" not in sys.argv:
        return 0
    rc = subprocess.call(
        [sys.executable, "tools/check_oracle.py", out],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    print(f"seed {seed}: {'PASS' if rc == 0 else 'FAIL'}")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())

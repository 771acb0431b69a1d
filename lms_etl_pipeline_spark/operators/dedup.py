"""Deduplication operators: exact, MinHash-LSH, and SimHash.

Design notes (100 TB posture):

- **Exact** dedup keys on a 128-bit content hash — a single hash-groupBy
  shuffle on a uniformly distributed key; no skew, no comparisons.
- **MinHash-LSH** near-dup: per-doc signature of ``k`` min-hashes over the
  shingle set, banded into ``b`` groups.  Candidate pairs come from an
  equi-join on (band, band_hash) — the classic Broder scheme — so the cost
  is |candidate pairs|, never N².  The hash family is ONE md5-derived base
  hash per shingle plus ``k`` affine universal-hash transforms (see
  ``MH_A``/``MH_B``): deterministic, engine-portable (the DuckDB oracle
  computes the *identical* signatures), uniform, and ~k× cheaper than a
  salted md5 per slot.  Swap ``base_hash`` for ``xxhash64`` when raw
  throughput matters more than oracle parity.
- **SimHash** uses ``xxhash64`` (native, cheap) — approximate by design,
  checked rows-only.

Execution-shape notes (these dominated the first benchmark):

- The shingle array is materialized once behind a ``repartition`` exchange
  before the k hash slots read it.  Two reasons: (a) higher-order array
  expressions run interpreted (outside whole-stage codegen), so Catalyst
  re-inlines and re-evaluates the shingle subtree once per slot if the
  projections collapse; (b) a small parquet file arrives as ONE input split,
  serializing the CPU-heavy hashing on a single core.  The exchange costs a
  shuffle of (id, shingles) but buys slot-count × core-count speedup — and
  at cluster scale Spark reuses the same exchange for both sides of the LSH
  self-join (ReusedExchange) instead of recomputing the corpus scan.
- Exact Jaccard verification recomputes shingles *after* joining the (few)
  candidate pairs, never for the whole corpus a second time.

DuckDB twins: the ``*_sql`` builders render each stage as oracle CTEs over
a relation of ``(doc_id, sh)`` shingle sets, so every oracle that chains
these stages spells them once, here, beside the Spark code they mirror.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.operators.text import hash60, hash60_sql, shingles, tokens
from lms_etl_pipeline_spark.session import materialize


#: universal-hash family: slot_i(h) = (A[i]*h + B[i]) mod P, all inputs
#: < 2^31 so A*h stays inside 63 bits on every engine (no overflow, no
#: engine-specific wraparound).  Constants are versioned with the code —
#: reproducible signatures across runs AND engines (the DuckDB oracle
#: computes the identical arithmetic).  One md5 per shingle instead of k:
#: ~k x less hashing than the salted-md5-per-slot scheme it replaces.
MH_P = 2147483647  # 2^31 - 1 (prime)
MH_A = (1640531527, 2027808487, 1812433253, 1181783497, 1779033703, 1013904223, 1294968747, 997807123)
MH_B = (1013904223, 1779033703, 997807123, 1294968747, 1640531527, 1812433253, 2027808487, 1181783497)

#: the production near-dup layout: k signature slots in b bands of k/b
#: rows, verified at exact shingle Jaccard >= JACCARD_T.  The Spark
#: operators default to it and the DuckDB twins render it.
LSH_K = 8
LSH_BANDS = 4
JACCARD_T = 0.5


def base_hash(item: Column) -> Column:
    """Engine-portable integer hash of a string, reduced below MH_P."""
    return hash60(item) % F.lit(MH_P)


def minhash_signature(hashed: Column, k: int = LSH_K) -> list[Column]:
    """k minhash slots over a BIGINT-array column of base hashes.

    ``hashed`` must be a *materialized column attribute* (built with
    ``transform(items, base_hash)`` in its own projection) — inlining the
    md5 subtree here would re-evaluate it once per slot in interpreted
    higher-order eval.
    """
    if k > len(MH_A):
        raise ValueError(f"k={k} exceeds the versioned hash family ({len(MH_A)})")

    def affine(i: int):
        # closure, not a 2-arg lambda: transform() treats two parameters
        # as the (element, index) signature
        a, b = MH_A[i], MH_B[i]
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MH_P)

    return [
        F.array_min(F.transform(hashed, affine(i))).alias(f"h{i}") for i in range(k)
    ]


def tokenized_partitioned(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tokens_col: str | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """(id, _toks) behind an id-keyed exchange — the shared tokenize stage.

    Built ONCE and referenced by every consumer in a near-dup plan (the
    minhash leg and both verification probes), so the physical plan carries
    a single tokenize subtree behind a single Exchange that Spark reuses
    (ReusedExchange) instead of re-running the corpus regex split per
    consumer.  Docs under 3 tokens are dropped here: they have no 3-gram
    shingles, so they can neither sign nor verify."""
    if partitions is None:
        from lms_etl_pipeline_spark.session import default_parallelism

        partitions = default_parallelism(df.sparkSession)
    tok = tokens(text_col) if tokens_col is None else F.col(tokens_col)
    toked = df.select(F.col(id_col), tok.alias("_toks")).filter(
        F.size("_toks") >= 3
    )
    return toked.repartition(partitions, F.col(id_col))


def with_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = LSH_K,
    partitions: int | None = None,
    tokens_col: str | None = None,
    _part: DataFrame | None = None,
) -> DataFrame:
    """(id, h0..h{k-1}) minhash signatures over word-level shingle sets.

    Docs with no 3-gram shingles (under 3 tokens) are dropped before
    hashing — they cannot be near-duplicates and would yield NULL slots.

    Plan shape (this is where the CPU goes, so it is deliberate):

    1. tokenize in its own projection — ``shingles`` must read a
       *materialized column attribute*, because an inlined tokens() subtree
       is re-evaluated by ``element_at`` once per shingle position in
       interpreted higher-order eval (measured ~10x slowdown);
    2. repartition BEFORE the heavy shingle/hash work — a small parquet
       file is one input split, which would serialize everything on one
       core; the exchange also gets reused (ReusedExchange) by both sides
       of the LSH self-join downstream;
    3. shingle + distinct in a third projection, slots in a fourth —
       CollapseProject keeps multi-referenced expensive arrays
       un-duplicated, and every filter keys on cheap precursors
       (token count), never on an expensive expression Catalyst would
       push down and clone.
    """
    # tokens_col: a caller that already materialized the token array
    # (quality-gate pipelines) skips the second corpus-wide regex split.
    # _part: a caller that shares the tokenize exchange across plan legs
    # (near_dup_pairs) passes the frame from tokenized_partitioned.
    part = (
        _part
        if _part is not None
        else tokenized_partitioned(df, id_col, text_col, tokens_col, partitions)
    )
    shing = part.select(
        F.col(id_col), F.array_distinct(shingles(F.col("_toks"), n=3)).alias("_sh")
    )
    hashed = shing.select(F.col(id_col), F.transform("_sh", base_hash).alias("_hs"))
    return hashed.select(F.col(id_col), *minhash_signature(F.col("_hs"), k))


def minhash_sql(src: str) -> str:
    """DuckDB twin of ``with_minhash`` over ``src`` (doc_id, sh): CTEs
    ``hs_t`` (the base hashes, reduced below MH_P, with ``sh`` kept) and
    ``sigs`` (doc_id, h0..h{LSH_K-1}).  Sets with no shingles are dropped."""
    base = f"LIST_TRANSFORM(sh, s -> {hash60_sql('s')} % {MH_P})"
    slots = ",\n             ".join(
        f"LIST_MIN(LIST_TRANSFORM(hs, h -> ({MH_A[i]} * h + {MH_B[i]}) % {MH_P})) AS h{i}"
        for i in range(LSH_K)
    )
    return f"""hs_t AS (SELECT doc_id, sh, {base} AS hs FROM {src} WHERE LEN(sh) > 0),
    sigs AS (
      SELECT doc_id,
             {slots}
      FROM hs_t
    )"""


def band_slots(k: int = LSH_K, bands: int = LSH_BANDS) -> list[range]:
    """The signature slots each LSH band hashes: band b holds the k/b
    consecutive slots from b*(k/b)."""
    rows = k // bands
    return [range(b * rows, (b + 1) * rows) for b in range(bands)]


def lsh_bands(
    sigs: DataFrame, id_col: str, k: int = LSH_K, bands: int = LSH_BANDS
) -> DataFrame:
    """Fold a k-slot signature into ``bands`` band-hashes, long form.

    Two docs land in the same (band, band_hash) bucket iff all slots of that
    band agree — the LSH amplification that makes candidate generation an
    equi-join.  One ``posexplode`` pass: the signature row is read once,
    never once per band.
    """
    band_arr = F.array(
        *[
            F.md5(F.concat_ws("|", *[F.col(f"h{i}").cast("string") for i in slots]))
            for slots in band_slots(k, bands)
        ]
    )
    return sigs.select(
        F.col(id_col), F.posexplode(band_arr).alias("band", "band_hash")
    )


def band_match_sql(x: str, y: str) -> str:
    """DuckDB predicate: signature rows ``x`` and ``y`` agree on every slot
    of at least one band — the pair would be an LSH candidate."""
    return " OR ".join(
        "(" + " AND ".join(f"{x}.h{i} = {y}.h{i}" for i in slots) + ")"
        for slots in band_slots()
    )


def lsh_candidates_sql(pair: str = "l.doc_id < r.doc_id", name: str = "cands") -> str:
    """DuckDB twin of ``lsh_bands`` plus the band equi-join, over the
    ``sigs`` CTE of ``minhash_sql``: CTEs ``bands`` (doc_id, band,
    band_hash) and ``name`` (distinct a, b).  ``pair`` filters the joined
    sides ``l`` and ``r``: a self-join keeps ``l.doc_id < r.doc_id``; a
    delta-vs-index join selects the delta on ``l`` and the index on ``r``.
    """
    band_hash = [
        "MD5(" + " || '|' || ".join(f"CAST(h{i} AS VARCHAR)" for i in slots) + ")"
        for slots in band_slots()
    ]
    union = "".join(
        f"\n      UNION ALL SELECT doc_id, {b}, {h} FROM sigs"
        for b, h in enumerate(band_hash[1:], start=1)
    )
    return f"""bands AS (
      SELECT doc_id, 0 AS band,
             {band_hash[0]} AS band_hash FROM sigs{union}
    ),
    {name} AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM bands l JOIN bands r ON l.band = r.band AND l.band_hash = r.band_hash
      WHERE {pair}
    )"""


def jaccard_verified_sql(cands: str, sets: str, score: bool = False) -> str:
    """DuckDB twin of the exact-Jaccard verification in ``near_dup_pairs``
    and ``jaccard_pairs_prefix``: a SELECT of the candidate pairs (a, b) of
    CTE ``cands`` whose shingle sets in ``sets`` (doc_id, sh) have Jaccard
    >= ``JACCARD_T``; ``score`` adds the ``jaccard`` column."""
    inter = "LEN(LIST_FILTER(sa.sh, s -> LIST_CONTAINS(sb.sh, s)))"
    jac = f"CAST({inter} AS DOUBLE) / (LEN(sa.sh) + LEN(sb.sh) - {inter})"
    cols = f"c.a, c.b, {jac} AS jaccard" if score else "c.a, c.b"
    return f"""SELECT {cols}
      FROM {cands} c
      JOIN {sets} sa ON sa.doc_id = c.a
      JOIN {sets} sb ON sb.doc_id = c.b
      WHERE {jac} >= {JACCARD_T}"""


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = LSH_K,
    bands: int = LSH_BANDS,
    threshold: float = JACCARD_T,
    tokens_col: str | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs verified by exact shingle Jaccard.

    Plan: signatures -> band posexplode -> self equi-join on (band,
    band_hash) -> distinct candidate pairs (a < b) -> join the *candidates*
    back to the corpus -> exact Jaccard on those pairs only.  Every join is
    an equi-join on a uniformly distributed hash key; the corpus-sized scan
    happens once (signature side, reused exchange) plus two candidate-pruned
    probes for verification.
    """
    # ONE tokenize stage behind ONE exchange, shared by the minhash leg
    # and both verification probes (ReusedExchange) — the default path
    # previously re-ran the corpus regex split three times.
    part = tokenized_partitioned(df, id_col, text_col, tokens_col)
    sigs = with_minhash(df, id_col, text_col, k, _part=part)
    bands_df = lsh_bands(sigs, id_col, k, bands)
    left = bands_df.select(F.col(id_col).alias("a"), "band", "band_hash")
    right = bands_df.select(F.col(id_col).alias("b"), "band", "band_hash")
    cands = (
        left.join(right, ["band", "band_hash"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # Exact verification: reuse the tokenize exchange, but build shingle
    # sets AFTER joining the (few) candidate pairs — the quadratic-ish
    # shingle work stays |candidates|-sized.
    a_docs = part.select(F.col(id_col).alias("a"), F.col("_toks").alias("_ta"))
    b_docs = part.select(F.col(id_col).alias("b"), F.col("_toks").alias("_tb"))
    sh_a = F.array_distinct(shingles(F.col("_ta"), n=3))
    sh_b = F.array_distinct(shingles(F.col("_tb"), n=3))
    paired = (
        cands.join(a_docs, "a")
        .join(b_docs, "b")
        .select("a", "b", sh_a.alias("_sha"), sh_b.alias("_shb"))
    )
    inter = F.size(F.array_intersect("_sha", "_shb"))
    union = F.size(F.array_union("_sha", "_shb"))
    return (
        paired.select("a", "b", F.try_divide(inter, union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = JACCARD_T,
    num_partitions: int | None = None,
    order: str = "lex",
) -> DataFrame:
    """Exact n-gram-Jaccard near-duplicate pairs via prefix filtering
    (the PPJoin family's core idea).

    For any consistent total order over shingles, two sets with
    ``J(A, B) >= t`` must share an element within the first
    ``|X| - ceil(t * |X|) + 1`` elements of each set — so candidates come
    from an equi-join on the exploded *prefix* only.  Unlike MinHash-LSH
    this is lossless: recall is exactly 1 by the prefix-filter theorem, and
    the exact-Jaccard verification on candidates makes precision 1 too.

    Any consistent total order is *correct*; which one is *fast* depends on
    the shingle-frequency distribution, so it's a parameter:

    - ``order='lex'`` (default): sort each shingle set lexicographically —
      one projection, no extra shuffle.  Right when document frequencies
      are flat (no hot shingles), as in the synthetic fixtures (27k
      distinct shingles, max df 25/5000 docs: measured 5.5 s vs 27 s for
      df-ordering at sf0.1, candidates 567k vs 409k — the df aggregate
      bought nothing).
    - ``order='df'``: global document-frequency-ascending order (rarest
      shingle first, ties lexicographic) — the PPJoin ordering.  On real
      Zipfian corpora the lexicographic prefix inevitably contains
      stopword shingles with df in the millions, each generating df²/2
      candidate entries; df-ordering keeps prefixes maximally selective
      and is the only order that survives 100 TB.  Costs one extra
      shingle-keyed count aggregate + a sort by (df, shingle); both are
      data-derived and deterministic, so a differential oracle can
      reproduce them exactly.

    Scale: shuffles ≈ (1-t)·|shingles| rows per doc on the shingle key —
    linear, never N².  Output columns: ``(a, b, jaccard)`` with ``a < b``.
    """
    if order not in ("lex", "df"):
        raise ValueError(f"order must be 'lex' or 'df', got {order!r}")
    # Tokenize in its own projection and filter on the cheap token count —
    # an inlined tokens() subtree is re-evaluated per shingle position in
    # interpreted higher-order eval (see with_minhash plan-shape notes).
    toked = df.select(F.col(id_col).alias("_id"), tokens(text_col).alias("_toks")).filter(
        F.size("_toks") >= n
    )
    if num_partitions:
        toked = toked.repartition(num_partitions, "_id")
    sets = toked.select("_id", F.array_distinct(shingles(F.col("_toks"), n)).alias("_sh"))
    if order == "lex":
        sh = sets.select("_id", F.array_sort("_sh").alias("_sh")).withColumn(
            "_n", F.size("_sh")
        )
    else:
        ex = sets.select("_id", F.explode("_sh").alias("_g"))
        dfreq = ex.groupBy("_g").agg(F.count("*").alias("_dfg"))
        # Per-doc shingle list sorted by (global df, shingle): struct natural
        # ordering gives the total order; collect_list's nondeterministic
        # order is normalized by the sort.
        sh = (
            ex.join(dfreq, "_g")
            .groupBy("_id")
            .agg(F.array_sort(F.collect_list(F.struct("_dfg", "_g"))).alias("_osh"))
            .select(
                "_id",
                F.transform("_osh", lambda s: s["_g"]).alias("_sh"),
                F.size("_osh").alias("_n"),
            )
        )
    # Reused thrice (prefix explode + both verify probes): cut the lineage
    # once so the ordered arrays are not recomputed per consumer.
    sh = materialize(sh, eager=False)
    prefix_len = (F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1).cast("int")
    pref = sh.select(
        "_id", "_n", F.explode(F.slice("_sh", F.lit(1), prefix_len)).alias("_g")
    )
    # Length filter (the PPJoin companion bound): J(A,B) >= t
    # forces min(|A|,|B|) >= t * max(|A|,|B|) (the intersection is at most
    # the smaller set and at least t times the union).  Pairs violating it
    # can only fail the final jaccard >= t filter, so pruning them BEFORE
    # the distinct and the two verification joins is lossless — and it is
    # the bound that keeps a long doc from pairing with every snippet
    # sharing one stopword shingle at scale.
    _len_ok = F.least(F.col("l._n"), F.col("r._n")) >= F.lit(threshold) * F.greatest(
        F.col("l._n"), F.col("r._n")
    )
    cands = (
        pref.alias("l")
        .join(pref.alias("r"), "_g")
        .filter((F.col("l._id") < F.col("r._id")) & _len_ok)
        .select(F.col("l._id").alias("a"), F.col("r._id").alias("b"))
        .distinct()
    )
    sa = sh.select(F.col("_id").alias("a"), F.col("_sh").alias("_sha"), F.col("_n").alias("_na"))
    sb = sh.select(F.col("_id").alias("b"), F.col("_sh").alias("_shb"), F.col("_n").alias("_nb"))
    inter = F.size(F.array_intersect("_sha", "_shb"))
    jac = inter.cast("double") / (F.col("_na") + F.col("_nb") - inter)
    return (
        cands.join(sa, "a")
        .join(sb, "b")
        .select("a", "b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def prefix_candidates_sql(src: str, name: str = "cands") -> str:
    """DuckDB twin of the ``order='lex'`` prefix filter in
    ``jaccard_pairs_prefix``, over ``src`` (doc_id, sh) with each set
    already sorted: CTEs ``nz`` (non-empty sets with size ``n``), ``pref``
    (the exploded prefixes) and ``name`` (distinct a < b sharing a prefix
    element).  Pairs still need ``jaccard_verified_sql``."""
    return f"""nz AS (SELECT doc_id, sh, LEN(sh) AS n FROM {src} WHERE LEN(sh) > 0),
    pref AS (
      SELECT doc_id,
             UNNEST(LIST_SLICE(sh, 1, n - CAST(CEIL({JACCARD_T} * n) AS BIGINT) + 1)) AS g
      FROM nz
    ),
    {name} AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM pref l JOIN pref r ON l.g = r.g AND l.doc_id < r.doc_id
    )"""


def simhash64(text_col: Column | str) -> Column:
    """64-bit SimHash over word tokens using native xxhash64, as a bit
    string (``"0110..."``, MSB first).

    Per token: hash to 64 bits; per bit position: +1 if set else -1 summed
    over tokens; final bit = (vote > 0).  One nested array expression — no
    UDF, no shuffle; near-dup candidates are rows whose bit strings differ
    in few positions (prefix-bucket first, then Hamming-verify).
    """
    toks = tokens(text_col) if isinstance(text_col, str) else tokens(text_col)
    hashed = F.transform(toks, lambda t: F.xxhash64(t))
    bits = F.transform(
        F.sequence(F.lit(63), F.lit(0), F.lit(-1)),
        lambda i: F.when(
            F.aggregate(
                hashed,
                F.lit(0),
                lambda acc, h: acc + F.when(F.getbit(h, i) == 1, 1).otherwise(-1),
            )
            > 0,
            F.lit("1"),
        ).otherwise(F.lit("0")),
    )
    return F.concat_ws("", bits)


def dedup_delta_against_index(
    delta: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = LSH_K,
    bands: int = LSH_BANDS,
    threshold: float = JACCARD_T,
) -> DataFrame:
    """Admit only delta rows that are neither an exact canonical-fingerprint
    duplicate of ``index`` nor an LSH-candidate with verified shingle
    Jaccard >= ``threshold`` against it — the incremental (delta-vs-index)
    dedup contract for continuously-ingested corpora.  Returns the admitted
    rows of ``delta`` (all its columns).

    Batch semantics are per-row against the index only (cross-set band
    joins): a row's admission never depends on what else is in the same
    delta, so any micro-batching of the delta yields the same admissions —
    the property that lets a streaming foreachBatch apply this per
    micro-batch (tested in tests/test_streaming.py).

    Scale: in production the index's fingerprints and band table are
    computed once and PERSISTED; each delta hashes itself and equi-joins
    those stores — batch-sized work.  The shingle verify touches candidate
    pairs only (same discipline as ``near_dup_pairs``).
    """
    from lms_etl_pipeline_spark.operators.text import fingerprint

    fp = fingerprint(text_col)
    ifp = index.select(fp.alias("_fp")).distinct()
    exact_ok = delta.withColumn("_fp", fp).join(ifp, "_fp", "left_anti").drop("_fp")

    d_bands = lsh_bands(with_minhash(delta, id_col, text_col, k), id_col, k, bands)
    i_bands = lsh_bands(with_minhash(index, id_col, text_col, k), id_col, k, bands)
    cands = (
        d_bands.select(F.col(id_col).alias("_bdoc"), "band", "band_hash")
        .join(
            i_bands.select(F.col(id_col).alias("_idoc"), "band", "band_hash"),
            ["band", "band_hash"],
        )
        .select("_bdoc", "_idoc")
        .distinct()
    )
    b_toks = delta.select(F.col(id_col).alias("_bdoc"), tokens(text_col).alias("_tb"))
    i_toks = index.select(F.col(id_col).alias("_idoc"), tokens(text_col).alias("_ti"))
    sh_b = F.array_distinct(shingles(F.col("_tb"), n=3))
    sh_i = F.array_distinct(shingles(F.col("_ti"), n=3))
    paired = (
        cands.join(b_toks, "_bdoc")
        .join(i_toks, "_idoc")
        .select("_bdoc", sh_b.alias("_shb"), sh_i.alias("_shi"))
    )
    inter = F.size(F.array_intersect("_shb", "_shi"))
    union = F.size(F.array_union("_shb", "_shi"))
    near_drop = (
        paired.filter(F.try_divide(inter, union) >= threshold)
        .select(F.col("_bdoc").alias(id_col))
        .distinct()
    )
    return exact_ok.join(near_drop, id_col, "left_anti")

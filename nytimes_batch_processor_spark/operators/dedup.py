"""Deduplication operators — exact, keyed-first-write-wins, and near-dup.

The reference's core guarantee is keyed idempotent dedup (W3:
``INSERT … ON CONFLICT DO NOTHING``, ``NytimesBatchProcessorApplication
.kt:138-141,175-178``) — first write wins per unique key. This module
generalizes that to the training-data-pipeline dedup family (L2,
SURVEY.md §2.3): exact hash dedup, deterministic-winner keyed dedup,
n-gram Jaccard near-dup, MinHash+LSH, and SimHash.

Scale notes:
- Exact dedup = hash groupBy on the key — one shuffle, AQE-skew-safe.
- First-write-wins = row_number over (key ORDER BY arrival) — pins the
  winner deterministically where dropDuplicates() keeps an arbitrary row
  (SURVEY.md §7 risk register).
- All-pairs Jaccard is O(n²·|tokens|): only viable on a bounded slice.
  The scale path is MinHash+LSH — O(n·perms) signatures, band-bucket
  join only collides near-duplicates; this is how 100 TB corpora are
  deduped in practice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..catalog import query
from ..functions import money, ratio
from ..sources import load_tables

# Deterministic MinHash parameters: k permutations of the token hash via
# (a*h + b) mod p over the Mersenne prime 2^31-1. The 31-bit hash space
# keeps a*h < 2^62 (no ANSI long overflow) while fixed constants keep
# signatures stable run-to-run (required for the driver's re-run compare).
_MINHASH_PRIME = (1 << 31) - 1
_MINHASH_PERMS = 32
_MINHASH_BANDS = 4  # 4 bands x 8 rows: collides pairs with J >~ 0.85


def _tokens(col) -> F.Column:
    """Distinct lowercase whitespace tokens (shared by all near-dup ops)."""
    return F.array_distinct(F.split(F.lower(col), r"\s+"))


@query(
    "dedup_exact_union",
    tables=("lineitem",),
    oracle="""
SELECT l_orderkey, l_linenumber,
       ROUND(l_quantity, 2) AS quantity,
       ROUND(l_extendedprice, 2) AS price
FROM (
    SELECT * FROM lineitem UNION ALL SELECT * FROM lineitem
)
GROUP BY ALL
""",
)
def dedup_exact_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: dedup(a ∪ a) = a. Hash groupBy on the full key —
    the idempotency property the reference's re-ingest loop relies on
    (O4 + W3): re-reading the same input must not grow the table."""
    t = load_tables(spark, sf_dir, "lineitem")
    doubled = t.lineitem.unionAll(t.lineitem)
    return doubled.select(
        "l_orderkey",
        "l_linenumber",
        money("l_quantity").alias("quantity"),
        money("l_extendedprice").alias("price"),
    ).dropDuplicates()


@query(
    "dedup_first_write_wins",
    tables=("orders",),
    oracle="""
SELECT o_custkey, o_orderkey AS first_orderkey,
       CAST(o_orderdate AS DATE) AS first_order_date,
       ROUND(o_totalprice, 2) AS first_order_price
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_custkey
        ORDER BY CAST(o_orderdate AS DATE) ASC, o_orderkey ASC
    ) AS rn
    FROM orders
) WHERE rn = 1
""",
)
def dedup_first_write_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed first-write-wins dedup — the reference's ON CONFLICT DO
    NOTHING semantics (W3) with the winner pinned by arrival order
    (orderdate, orderkey), not left arbitrary as dropDuplicates would."""
    t = load_tables(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").cast("date").asc(), F.col("o_orderkey").asc()
    )
    return (
        t.orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            F.col("o_orderdate").cast("date").alias("first_order_date"),
            money("o_totalprice").alias("first_order_price"),
        )
    )


@query(
    "dedup_ngram_jaccard",
    tables=("documents",),
    oracle="""
WITH docs AS (
    SELECT doc_id, list_distinct(string_split_regex(lower(text), '\\s+')) AS toks
    FROM documents WHERE doc_id < 100
),
tok AS (
    SELECT doc_id, unnest(toks) AS tok FROM docs
),
sizes AS (
    SELECT doc_id, len(toks) AS n FROM docs
),
common AS (
    SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(COUNT(*) AS BIGINT) AS c
    FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id1, id2,
       ROUND(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 6) AS jaccard
FROM common
JOIN sizes s1 ON s1.doc_id = id1
JOIN sizes s2 ON s2.doc_id = id2
WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= 0.82
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (token-set) Jaccard near-dup on a bounded slice
    (doc_id < 100): explode tokens, self-join on token, |∩| via groupBy,
    J = |∩| / (|A|+|B|-|∩|). All-pairs exact is the *correctness oracle*
    for MinHash below — never the 100 TB path."""
    t = load_tables(spark, sf_dir, "documents")
    docs = (
        t.documents.filter(F.col("doc_id") < 100)
        .select("doc_id", _tokens(F.col("text")).alias("toks"))
    )
    tok = docs.select("doc_id", F.explode("toks").alias("tok"))
    sizes = docs.select("doc_id", F.size("toks").alias("n"))
    a, b = tok.alias("a"), tok.alias("b")
    common = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s1 = sizes.select(F.col("doc_id").alias("id1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("id2"), F.col("n").alias("n2"))
    jac = F.col("c").cast("double") / (F.col("n1") + F.col("n2") - F.col("c"))
    return (
        common.join(F.broadcast(s1), "id1")
        .join(F.broadcast(s2), "id2")
        .filter(jac >= 0.82)
        .select("id1", "id2", ratio(jac).alias("jaccard"))
    )


def _portable_token_hash(tk: F.Column) -> F.Column:
    """Engine-portable token hash: first 15 hex chars of md5 parsed as a
    60-bit non-negative BIGINT, reduced mod the Mersenne prime. Chosen
    over xxhash64 (which DuckDB cannot reproduce) so the WHOLE MinHash
    pipeline is oracle-checkable: DuckDB computes the identical value as
    CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % p. md5 is
    marginally slower than xxhash64 per token but runs once per token in
    the materialized hash array, so it is off the per-permutation path."""
    return F.pmod(
        F.conv(F.substring(F.md5(tk), 1, 15), 16, 10).cast("bigint"),
        F.lit(_MINHASH_PRIME),
    )


def minhash_signatures(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc MinHash signature: array of _MINHASH_PERMS minima of
    ((a_i * portable_hash(token) + b_i) mod p).

    MAP-ONLY by construction: the token array never explodes — each
    permutation minimum is an ``array_min(transform(...))`` over the
    per-row token-hash array, all inside whole-stage codegen. No shuffle,
    no groupBy hash table; at 100 TB this pipelines straight out of the
    parquet scan. (The explode + groupBy(min) formulation costs a full
    token-table shuffle for the same result.)

    Two load-bearing details:

    - the token-hash array is MATERIALIZED in its own projection before
      the 32 per-perm transforms: codegen does NOT common-subexpression
      the tokenize+hash across array elements, so inlining it re-runs
      split/lower/md5 once per permutation — measured 9x slower
      (5.7s -> 0.6s for 5k docs at sf0.1);
    - token-less docs (NULL / empty / whitespace-only text) are dropped
      here: ``split('', '\\s+')`` yields ``['']`` so every empty doc
      would otherwise share ONE identical signature (and NULL text an
      all-NULL one) and collide pairwise in every LSH bucket —
      O(n_empty^2) candidates at corpus scale. An empty doc has no
      shingle evidence to dedup on; callers that must keep them route
      them through exact dedup instead."""
    # The token-less-doc filter tests the TOKEN array, not the hash
    # array (r20): filtering on size(_th) > 0 let predicate pushdown
    # substitute the full tokenize+md5+pmod expression and evaluate it
    # per row at the scan — below any caller's spread exchange, i.e.
    # single-task on a small scan, and a third full evaluation next to
    # the two the plan already carries. size(_tk) > 0 is exactly
    # equivalent (hashing never changes emptiness) and the pushed
    # predicate now costs tokenize only.
    base = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.array_remove(_tokens(F.col(text_col)), "").alias("_tk"),
        )
        .filter(F.size("_tk") > 0)
        .select(
            "doc_id",
            F.transform(F.col("_tk"), _portable_token_hash).alias("_th"),
        )
    )
    # NOTE (measured, r4): rewriting these 32 unrolled transforms as one
    # nested transform over a struct-array of (a, b) coefficients — the
    # trick that won 2-3x in similarity.py — is 3x SLOWER here (sig
    # build 1.9s -> 6.3s at sf0.1): a lambda that references an OUTER
    # lambda's variable falls out of whole-stage codegen. The unrolled
    # form stays — but since r20 it is BUILT as ONE SQL string shipped
    # through a single F.expr instead of a Python loop of Column
    # operators: the loop crossed py4j several times per permutation
    # (lambda variables, binary ops), measured 0.9-1.3s of pure
    # DRIVER-side plan construction per call at steady state — paid
    # twice per admission run and once per probe, and invisible to
    # task metrics (it was the inter-job "gap" in the event log). The
    # parsed expression tree, the analyzed plan, and codegen are
    # identical to the unrolled-Column form; construction is now one
    # py4j call (~10 ms).
    terms = ", ".join(
        f"array_min(transform(_th, x -> ({2 * i + 1} * x"
        f" + {7919 * i + 13}) % {_MINHASH_PRIME}))"
        for i in range(_MINHASH_PERMS)
    )
    return base.select("doc_id", F.expr(f"array({terms})").alias("sig"))


def _minhash_sig_ctes(source: str = "documents") -> str:
    """The docs/sigs/bands WITH-clause prefix of the DuckDB MinHash twin
    (tokenize -> md5-based token hash -> 32 permutation minima -> 4 band
    slices), shared by the corpus-pairs oracle below and the
    incremental-probe oracle (`_minhash_probe_oracle`). ``source`` is
    the relation signed — ``documents`` for the corpus twins, or a
    preceding CTE (e.g. the quality-filtered redacted batch the
    composed-curation twin signs)."""
    p = _MINHASH_PRIME
    rpb = _MINHASH_PERMS // _MINHASH_BANDS
    sig_exprs = ",\n           ".join(
        f"list_min(list_transform(th, h -> ({2 * i + 1} * h + {7919 * i + 13}) % {p}))"
        for i in range(_MINHASH_PERMS)
    )
    return f"""docs AS (
    SELECT doc_id,
           list_transform(
               list_filter(list_distinct(string_split_regex(lower(text), '\\s+')),
                           t -> t <> ''),
               t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % {p}
           ) AS th
    FROM {source}
),
sigs AS (
    SELECT doc_id, [{sig_exprs}] AS sig
    FROM docs WHERE len(th) > 0
),
bands AS (
    SELECT doc_id, band, list_slice(sig, band * {rpb} + 1, band * {rpb} + {rpb}) AS bsig
    FROM sigs CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b
)"""


def _minhash_agree_sql() -> str:
    """The 32-term signature-agreement SUM between sigs aliases s1/s2."""
    return " + ".join(
        f"CASE WHEN s1.sig[{i + 1}] = s2.sig[{i + 1}] THEN 1 ELSE 0 END"
        for i in range(_MINHASH_PERMS)
    )


def _minhash_pairs_ctes() -> str:
    """The WITH-clause body (docs/sigs/bands/cand/pairs CTEs) of the
    DuckDB twin of the full MinHash+LSH pipeline, made possible by the
    portable token hash above. Replays every stage: tokenize ->
    md5-based token hash -> 32 permutation minima -> 4 band slices ->
    band-slice equi-join (list equality replaces the Spark side's
    engine-internal xxhash64 band bucketing — equal slices iff equal
    band hash, modulo a ~2^-64 hash collision) -> DISTINCT pairs (the
    Spark side's first-colliding-band emission produces the same set
    without a distinct) -> 32-term signature-agreement est-Jaccard.
    Shared by the dedup_minhash_lsh / _resolve / _cc oracles."""
    agree = _minhash_agree_sql()
    return f"""{_minhash_sig_ctes()},
cand AS (
    SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
),
pairs AS (
    SELECT c.id1, c.id2,
           ROUND(({agree}) / {_MINHASH_PERMS}.0, 6) AS est_jaccard
    FROM cand c
    JOIN sigs s1 ON s1.doc_id = c.id1
    JOIN sigs s2 ON s2.doc_id = c.id2
    WHERE ({agree}) / {_MINHASH_PERMS}.0 >= 0.9
)"""


def _minhash_lsh_oracle() -> str:
    return f"WITH {_minhash_pairs_ctes()}\nSELECT id1, id2, est_jaccard FROM pairs"


@query("dedup_minhash_lsh", tables=("documents",), oracle=_minhash_lsh_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup at scale — ORACLE-CHECKED end to end: the
    portable md5-based token hash lets DuckDB replay the exact pipeline
    (see _minhash_lsh_oracle); tests/test_dedup_quality.py additionally
    gates est-Jaccard against exact token-set Jaccard.

    Pipeline: token shingles -> 32-perm MinHash signature -> 4 LSH bands
    (8 rows each; collides pairs with J >~ 0.85) -> band-hash bucket
    self-join -> verify candidates with estimated Jaccard (signature
    agreement fraction) >= 0.9.

    Shuffle discipline (the fixture's templated docs make candidate
    volume ~1000x the corpus size, so the design never shuffles the pair
    set AT ALL — the only shuffle is the |docs|-row signature
    repartition; measured 5.6s -> 0.9s at sf0.1 vs the r3
    distinct-based shape):

    1. signatures are MAP-ONLY (see minhash_signatures), computed over
       the conditionally-spread scan (r20: the fan-out moved from a
       post-sig |docs|-row repartition to the shared spread guard ABOVE
       the sig pass — the tokenize+md5+32-perm work itself now
       parallelizes, and on a cluster where the scan is already wide
       NO exchange is added at all) and localCheckpoint'ed so the
       self-join + re-attach consumers don't recompute them;
    2. each pair is emitted from its FIRST colliding band only, so the
       multiset of band collisions needs no distinct: the bucket
       self-join carries the 4 band hashes as FLAT scalar long columns
       and filters `band==k AND bh_j differs for all j<k` — a pure
       boolean expression whole-stage codegen evaluates in the probe
       loop. Two measured traps on the same idea: carrying full
       signatures through the collision rows (3x slower — wide rows),
       and expressing the check over band-hash ARRAYS with
       slice/zip_with/exists (20x slower — per-probe array allocation);
    3. the zip_with est-Jaccard verification therefore runs once per
       distinct pair by construction, not once per band collision;
    4. signature re-attach for the verification is a plain equi-join
       against the (one row per doc) signature table — NO broadcast
       hint: the optimizer broadcasts it while it fits and falls back
       to shuffle at corpus scale.
    """
    from ..functions.udfs import spread_for_python

    t = load_tables(spark, sf_dir, "documents")
    # r20: the fan-out moved BELOW the signature pass to ABOVE it — the
    # unconditional post-sig repartition exchanged already-computed
    # signatures while the tokenize+md5+32-perm pass itself still ran
    # in the scan's single fixture partition (one core). The
    # conditional spread fans the RAW docs out only when the scan is
    # narrower than the session parallelism, so the sig pass
    # parallelizes and a production-wide scan keeps ZERO added
    # exchange (the old form paid its |docs|-row exchange everywhere).
    sig = (
        minhash_signatures(
            spread_for_python(t.documents.select("doc_id", "text")),
            "doc_id",
            "text",
        )
        .localCheckpoint(eager=True)
    )
    rows_per_band = _MINHASH_PERMS // _MINHASH_BANDS
    band_hashes = [
        F.xxhash64(
            *[F.col("sig").getItem(k * rows_per_band + r) for r in range(rows_per_band)]
        ).alias(f"bh{k}")
        for k in range(_MINHASH_BANDS)
    ]
    bands = sig.select("doc_id", *band_hashes).select(
        "doc_id",
        *[f"bh{k}" for k in range(_MINHASH_BANDS)],
        F.posexplode(F.array(*[F.col(f"bh{k}") for k in range(_MINHASH_BANDS)])).alias(
            "band", "band_hash"
        ),
    )
    a, b = bands.alias("a"), bands.alias("b")
    first_band = F.lit(False)
    for k in range(_MINHASH_BANDS):
        cond = F.col("a.band") == k
        for j in range(k):
            cond = cond & (F.col(f"a.bh{j}") != F.col(f"b.bh{j}"))
        first_band = first_band | cond
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(first_band)
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
    )
    s1 = sig.select(F.col("doc_id").alias("id1"), F.col("sig").alias("sig1"))
    s2 = sig.select(F.col("doc_id").alias("id2"), F.col("sig").alias("sig2"))
    est_jaccard = (
        F.size(F.filter(F.zip_with("sig1", "sig2", lambda x, y: x == y), lambda eq: eq))
        / F.lit(_MINHASH_PERMS)
    ).cast("double")
    return (
        cand.join(s1, "id1")
        .join(s2, "id2")
        .select("id1", "id2", ratio(est_jaccard).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= 0.9)
    )


def _minhash_resolve_oracle() -> str:
    """Greedy resolve = the pairs CTE + one NOT EXISTS anti-join."""
    return f"""WITH {_minhash_pairs_ctes()},
dupes AS (SELECT DISTINCT id2 AS doc_id FROM pairs)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM dupes x WHERE x.doc_id = d.doc_id)"""


def dedup_minhash_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup OUTPUT (not just candidate pairs): the surviving
    corpus after greedy min-id resolution — every document that near-dups
    (est_jaccard >= 0.9) a lower-id document is dropped via one left_anti
    join.

    This is the single-pass approximation of connected-components
    clustering (a doc whose only surviving near-dup was itself dropped
    still goes — standard greedy behavior for corpus dedup; full CC needs
    an iterative min-id propagation, O(log n) joins, same join shape).
    ORACLE-CHECKED: the portable-hash pairs CTE (_minhash_pairs_ctes)
    plus a NOT EXISTS anti-join replays the whole thing in DuckDB.
    Registered through `dedup_resolve_surface` since r10 (the greedy
    branch).
    """
    t = load_tables(spark, sf_dir, "documents")
    dupes = (
        dedup_minhash_lsh(spark, sf_dir)
        .select(F.col("id2").alias("doc_id"))
        .distinct()
    )
    return t.documents.join(dupes, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


_PROBE_BATCH_MOD = 10  # doc_id % 10 == 0 is the derived "new batch"


def _band_hash_cols() -> list[F.Column]:
    """The 4 per-band xxhash64 bucket keys over an 8-slot signature
    slice — the LSH bucketing shared by the corpus self-join
    (`dedup_minhash_lsh`) and the persisted probe index below."""
    rpb = _MINHASH_PERMS // _MINHASH_BANDS
    # One F.expr per band (r20): the getItem loop built 8 Column ops x
    # 4 bands through py4j per call — the minhash_signatures
    # construction-cost class, same fix. sig[i] is the SQL spelling of
    # getItem(i); the analyzed expression is identical.
    return [
        F.expr(
            "xxhash64("
            + ", ".join(f"sig[{k * rpb + r}]" for r in range(rpb))
            + ")"
        ).alias(f"bh{k}")
        for k in range(_MINHASH_BANDS)
    ]


def build_minhash_index(docs: DataFrame, path: str) -> None:
    """Build and PERSIST the corpus near-dup index: one parquet row per
    document carrying its full MinHash signature plus the 4 band bucket
    keys (``doc_id, sig, bh0..bh3``). This is the indexed-corpus half of
    the incremental dedup story — built once per corpus version (a
    map-only signature pass, no shuffle), appended to as batches are
    admitted, and probed by every arriving batch without ever
    re-signing the corpus. At 100 TB the same table lives partitioned/
    bucketed by band hash on object storage."""
    _write_minhash_index(docs, path, "overwrite")


def _write_minhash_index(docs: DataFrame, path: str, mode: str) -> None:
    """Sign raw (doc_id, text) docs and write them through the ONE
    index projection (`_write_minhash_index_sigs`)."""
    sig = minhash_signatures(docs, "doc_id", "text")
    _write_minhash_index_sigs(
        sig.select("doc_id", "sig", *_band_hash_cols()), path, mode
    )


def _write_minhash_index_sigs(sigs: DataFrame, path: str, mode: str) -> None:
    """ONE copy of the index write shared by build, append, and
    `admit_minhash_batch`'s already-signed path (which must not pay a
    second signature pass over text it signed to probe) — the schema
    (incl. the bigint id pin: mixed INT32/INT64 parquet columns break
    reads over the combined file set) must never diverge between the
    writers. ``sigs`` carries (doc_id, sig, bh0..bh{n})."""
    sigs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "sig",
        *[F.col(f"bh{k}") for k in range(_MINHASH_BANDS)],
    ).write.mode(mode).parquet(path)


def append_to_minhash_index(docs: DataFrame, path: str) -> None:
    """Admit a batch INTO the persisted index: the same map-only
    signature pass as `build_minhash_index`, appended — the index grows
    one parquet file-set per admitted batch, never rebuilds, and the
    next probe finds the admitted documents' bands immediately. At
    100 TB this is the steady-state write path (admission after
    `dedup_incremental_probe` says 'new'); periodic compaction of the
    small appended files is `compact_minhash_index` below."""
    _write_minhash_index(docs, path, "append")


def compact_minhash_index(spark: SparkSession, path: str, target_files: int = 8) -> int:
    """MAINTENANCE for the append-grown MinHash index (VERDICT r11
    item 2): every `append_to_minhash_index` adds a parquet file-set,
    so an admission-heavy index accretes small files until every probe
    wastes a scan task per tiny file. This rewrites the index down to
    ``target_files`` via `tables.compact_parquet` (flat layout →
    coalesce, no shuffle, atomic two-rename swap) and returns the
    post-compaction file count. Probe results are BYTE-IDENTICAL
    before/after — the index is a plain row set keyed by (doc_id, sig,
    band hashes) and compaction only repacks rows into fewer files
    (pinned by tests/test_sinks_tables.py). Run it between probe
    windows, like any offline table maintenance."""
    from ..tables import compact_parquet

    return compact_parquet(spark, path, target_files)


# Probe-cost bound for the band-bucket health check below — the MinHash
# analogue of similarity.IVF_MAX_CELL_SHARE: the probe is an equi-join
# on (band, band_hash), so its per-bucket cost is |index bucket| x
# |batch bucket|, and one bucket holding a quarter of the index makes
# every probe against it a quarter-corpus scan regardless of how
# balanced the rest is. SCOPE: this is the contract for an
# ADMISSION-MAINTAINED index (near-dups never admitted, so buckets stay
# content-sparse). A raw, un-deduped corpus index over dup-heavy data
# legitimately exceeds it — MinHash buckets are content-defined, so a
# hot bucket there IS the duplicate mass the index exists to report
# (the sf0.1 fixture measures ~0.35; the scale gate therefore gates
# NON-CONCENTRATION across scales, not this absolute bound, on that
# fixture — see tools/scale_bench.py MH_OCCUPANCY_KEY).
MINHASH_MAX_BUCKET_SHARE = 0.25


def minhash_band_health(spark: SparkSession, path: str) -> dict:
    """Band-bucket occupancy of a persisted MinHash index: the largest
    (band, band_hash) bucket's share of index rows, ONE distributed
    aggregation (explode the 4 flat band-hash columns -> per-bucket
    counts -> 1-row max/sum fold; the collect is a bounded single-row
    driver fold, never the bucket table)."""
    idx = spark.read.parquet(path)
    banded = idx.select(
        F.posexplode(
            F.array(*[F.col(f"bh{k}") for k in range(_MINHASH_BANDS)])
        ).alias("band", "bh")
    )
    row = (
        banded.groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("max_bucket"), F.sum("c").alias("total"))
        .collect()[0]
    )
    n = int(row["total"] or 0) // _MINHASH_BANDS
    share = (int(row["max_bucket"]) / n) if n else 0.0
    return {
        "rows": n,
        "max_bucket_rows": int(row["max_bucket"] or 0),
        "max_bucket_share": round(share, 4),
        "bucket_ok": share <= MINHASH_MAX_BUCKET_SHARE,
    }


def maintain_minhash_index(
    spark: SparkSession, path: str, target_files: int = 8
) -> dict:
    """The ONE offline-maintenance entrypoint for an append-grown
    MinHash index (VERDICT r14 item 6 — parity with
    `similarity.maintain_ivf_index`, so operators need not know which
    index type wants which maintenance): compact the per-admission
    small files (`compact_minhash_index`, probe-byte-identical by
    contract), then report band-bucket health (`minhash_band_health`).

    Unlike the IVF twin there is NO automatic repair stage, because a
    hot band bucket has no retrain analogue — the band keys are
    content hashes, not a trained partitioning. ``bucket_ok: False``
    means one of two operator-actionable causes: (a) the admission
    threshold is letting near-identical content mass into the index
    (the index is doing exactly its job — tighten the admission bar or
    dedup the backlog), or (b) the corpus outgrew the fixed band width
    and random collisions are pooling (the simhash width policy
    applies: more/wider bands, i.e. a parameter change plus
    `build_minhash_index` from the source corpus — a re-SIGN, not
    something maintenance can do from the index alone, since the
    stored band hashes are one-way)."""
    files_after = compact_minhash_index(spark, path, target_files)
    report = minhash_band_health(spark, path)
    report["files_after"] = files_after
    return report


# (applicationId, sf_dir) -> index path; built once per session/corpus
# like ivf_index_for, so repeated probes (bench, driver re-runs) measure
# the PROBE, not an index rebuild.
_MINHASH_INDEX_CACHE: dict[tuple[str, str], str] = {}


def minhash_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Path of the persisted corpus index (docs with doc_id %
    _PROBE_BATCH_MOD != 0), building it on first use per session."""
    from ..tables import warehouse_scratch_path

    key = (spark.sparkContext.applicationId, sf_dir)
    path = _MINHASH_INDEX_CACHE.get(key)
    if path is None:
        path = warehouse_scratch_path(spark, "minhash_index", sf_dir, per_app=True)
        t = load_tables(spark, sf_dir, "documents")
        corpus = t.documents.filter(F.col("doc_id") % _PROBE_BATCH_MOD != 0)
        build_minhash_index(corpus, path)
        _MINHASH_INDEX_CACHE[key] = path
    return path


def probe_candidate_pairs(index: DataFrame, batch_sigs: DataFrame) -> DataFrame:
    """The candidate subplan of `probe_minhash_index`: distinct
    (qid, cid) batch x index pairs sharing >= 1 band bucket, each
    emitted from its FIRST colliding band (no distinct needed — the
    `dedup_minhash_lsh` trick). Factored out so tools/scale_bench.py
    counts the EXACT subplan the operator runs (the r8 lesson: a
    re-implemented measurement desynchronizes from the real workload)."""
    names = [f"bh{k}" for k in range(_MINHASH_BANDS)]
    explode = F.posexplode(F.array(*[F.col(n) for n in names])).alias(
        "band", "band_hash"
    )
    q = batch_sigs.select(
        F.col("doc_id").alias("qid"),
        *[F.col(n).alias(f"q{n}") for n in names],
        explode,
    )
    c = index.select(
        F.col("doc_id").alias("cid"),
        *[F.col(n).alias(f"c{n}") for n in names],
        explode,
    )
    first_band = F.lit(False)
    for k in range(_MINHASH_BANDS):
        cond = F.col("q.band") == k
        for j in range(k):
            cond = cond & (F.col(f"qbh{j}") != F.col(f"cbh{j}"))
        first_band = first_band | cond
    return (
        q.alias("q")
        .join(
            c.alias("c"),
            (F.col("q.band") == F.col("c.band"))
            & (F.col("q.band_hash") == F.col("c.band_hash")),
        )
        .filter(first_band)
        .select("qid", "cid")
    )


def probe_minhash_index(index: DataFrame, batch_sigs: DataFrame) -> DataFrame:
    """Probe a signed batch against a persisted corpus index: band
    bucket equi-join ONLY (batch bands x index bands on (band,
    band_hash)) — never batch x corpus, never corpus x corpus — then
    one est-Jaccard verification per distinct candidate pair via the
    first-colliding-band emission trick of `dedup_minhash_lsh`.
    Returns verified (doc_id, canon_id) matches with est_jaccard >= 0.9.

    Scale: probe cost is O(batch bands x bucket occupancy). The corpus
    contributes only the buckets the batch touches — on a cluster the
    index table is bucketed by band hash, so the join co-locates
    without shuffling the index."""
    cand = probe_candidate_pairs(index, batch_sigs)
    qs = batch_sigs.select(F.col("doc_id").alias("qid"), F.col("sig").alias("qsig"))
    cs = index.select(F.col("doc_id").alias("cid"), F.col("sig").alias("csig"))
    est = (
        F.size(F.filter(F.zip_with("qsig", "csig", lambda x, y: x == y), lambda e: e))
        / F.lit(_MINHASH_PERMS)
    ).cast("double")
    return (
        cand.join(qs, "qid")
        .join(cs, "cid")
        .select("qid", "cid", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= 0.9)
        .select(F.col("qid").alias("doc_id"), F.col("cid").alias("canon_id"))
    )


def _minhash_probe_oracle() -> str:
    agree = _minhash_agree_sql()
    mod = _PROBE_BATCH_MOD
    return f"""WITH {_minhash_sig_ctes()},
cand AS (
    SELECT DISTINCT a.doc_id AS qid, b.doc_id AS cid
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bsig = b.bsig
    WHERE a.doc_id % {mod} = 0 AND b.doc_id % {mod} <> 0
),
matches AS (
    SELECT c.qid, c.cid
    FROM cand c
    JOIN sigs s1 ON s1.doc_id = c.qid
    JOIN sigs s2 ON s2.doc_id = c.cid
    WHERE ({agree}) / {_MINHASH_PERMS}.0 >= 0.9
),
agg AS (
    SELECT qid,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           MIN(cid)                 AS canon_id
    FROM matches GROUP BY qid
)
SELECT s.doc_id,
       CASE WHEN a.canon_id IS NULL THEN 'new' ELSE 'dup' END AS status,
       a.canon_id,
       COALESCE(a.n_matches, CAST(0 AS BIGINT)) AS n_matches
FROM sigs s LEFT JOIN agg a ON a.qid = s.doc_id
WHERE s.doc_id % {mod} = 0"""


@query(
    "dedup_incremental_probe",
    tables=("documents",),
    oracle=_minhash_probe_oracle(),
)
def dedup_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: probe a NEW batch against the EXISTING
    corpus index — the 100 TB production shape every full-corpus dedup
    entry above deliberately is not (VERDICT r10 item 4). Production
    pipelines never re-pair the whole corpus per arriving batch; they
    keep a persisted MinHash signature index and answer "which of these
    new documents near-dup something we already have?" with a band
    equi-join against it. This generalizes the reference's keyed
    first-write-wins admission (W3, ``…kt:138-141``) from exact keys to
    near-duplicate content, and `upsert_append`'s anti-join from
    equality to similarity.

    Derivation (both sides SQL-replayed end to end): corpus = documents
    with doc_id % 10 != 0, indexed once per session by
    `minhash_index_for` (persisted parquet: doc_id, sig, 4 band keys);
    batch = doc_id % 10 == 0, signed map-only at probe time. The probe
    (`probe_minhash_index`) generates candidates ONLY via the
    (band, band_hash) bucket join — no batch x corpus pairs, no corpus
    self-join — and verifies est-Jaccard >= 0.9 once per distinct pair.
    Output: one row per batch document (token-less docs excluded, as in
    every MinHash entry) — status 'dup'/'new', the canonical (minimum)
    matched corpus id or NULL, and the match count. An admitted batch
    would then append its 'new' rows to the index table: signatures are
    mergeable by construction, so the index grows without rebuilds —
    the near-dup analogue of `agg_incremental_merge`.

    Scale: probe cost is linear in BATCH size at fixed corpus (gated
    x1/x2/x10 in tools/scale_bench.py); the corpus contributes only
    touched buckets. The batch side broadcasts while small (the common
    CDC shape); AQE decides past that."""
    from ..functions.udfs import spread_for_python

    t = load_tables(spark, sf_dir, "documents")
    index = spark.read.parquet(minhash_index_for(spark, sf_dir))
    batch_docs = t.documents.filter(F.col("doc_id") % _PROBE_BATCH_MOD == 0)
    # Sign WIDE and PIN (r20): the lazy signature frame appeared THREE
    # times in the executed plan — as the band stream side, again as
    # the est-verify qsig side, and its size()>0 filter a third time on
    # the ledger's base row set — and all three subtrees rooted in the
    # single-partition batch scan, so the probe's tokenize+md5 ran 3x
    # on one core (plans/r20/dedup_incremental_probe_before.txt, ops
    # 2/7/23). The conditional spread fans the degenerate scan to
    # session parallelism (zero added exchange on a production-wide
    # batch) and the localCheckpoint computes the signatures exactly
    # once — the same pin `admit_minhash_batch` has carried since r12.
    batch_sigs = (
        minhash_signatures(
            spread_for_python(batch_docs.select("doc_id", "text")),
            "doc_id",
            "text",
        )
        .select("doc_id", "sig", *_band_hash_cols())
        .localCheckpoint(eager=True)
    )
    matches = probe_minhash_index(index, batch_sigs)
    agg = matches.groupBy(F.col("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.min("canon_id").alias("canon_id"),
    )
    return (
        batch_sigs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("canon_id").isNull(), F.lit("new"))
            .otherwise(F.lit("dup"))
            .alias("status"),
            "canon_id",
            F.coalesce(F.col("n_matches"), F.lit(0).cast("long")).alias("n_matches"),
        )
    )


def _admission_ledger(index: DataFrame, batch_sigs: DataFrame) -> DataFrame:
    """The LAZY admission-verdict plan over a signed batch — ONE copy,
    used only by `admit_minhash_batch`, through which
    `operators.text.curate_admission_pipeline` and the streaming sink
    also route (VERDICT r12 item 2: a re-implemented copy in the
    composed pipeline is how the within-batch blind spot happened;
    since r14 the pipeline calls the admission operator itself, so the
    verdict plan cannot diverge). Probes ``batch_sigs`` against
    the persisted ``index`` AND against itself (canonicalize-by-min:
    a doc near-dupping a smaller-id batch member is a dup even if the
    index missed both), returning one row per signed batch doc:
    ``(doc_id, status 'admitted'/'dup', canon_id, n_matches)``.

    Contract: ``batch_sigs`` must be PINNED (eager localCheckpoint) by
    the caller — it is probed twice here and re-used for the admit
    join — and the returned ledger must itself be pinned before any
    index mutation (a lazy ledger re-evaluated after the append would
    re-probe the grown index and verdict every admission 'dup').

    TWO probes on purpose — do not fold them into one tagged
    corpus ∪ batch probe (tried and reverted, r14): the fold is
    value-identical and ~35% faster at x1, but the union erases the
    per-side size statistics, the est-verify joins lose their
    broadcast strategy, and the candidate mass gets SHUFFLED instead —
    measured 5x slower at the scale gate's x10 batch (pipe_wall
    5.7s -> 28.5s, linear_ok=False). Separate probes keep the index a
    stats-bearing parquet scan and the batch a bounded broadcast
    side."""
    idx_matches = probe_minhash_index(index, batch_sigs)
    self_matches = probe_minhash_index(batch_sigs, batch_sigs).filter(
        F.col("canon_id") < F.col("doc_id")
    )
    agg = (
        idx_matches.unionByName(self_matches)
        .groupBy("doc_id")
        .agg(
            F.min("canon_id").alias("canon_id"),
            F.countDistinct("canon_id").alias("n_matches"),
        )
    )
    return (
        batch_sigs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("canon_id").isNull(), F.lit("admitted"))
            .otherwise(F.lit("dup"))
            .alias("status"),
            "canon_id",
            F.coalesce(F.col("n_matches"), F.lit(0).cast("long")).alias(
                "n_matches"
            ),
        )
    )


def admit_minhash_batch(
    spark: SparkSession,
    index_path: str,
    batch_docs: DataFrame,
    admitted_path: str | None = None,
    batch_id: int | None = None,
) -> DataFrame:
    """ONE near-dup ADMISSION step over the persisted MinHash index —
    the composition VERDICT r11 item 3 asked for, shared verbatim by
    the batch twin (`stream_admission_twin`) and the streaming sink
    (`streaming.pipeline.foreach_batch_admission`): sign the arriving
    batch map-only, probe the index (band equi-join, never
    batch x corpus), canonicalize within the batch, admit what matched
    nothing, and grow the index with the admissions. Returns the
    batch's admission LEDGER ``(doc_id, status 'admitted'/'dup',
    canon_id)``.

    Semantics (the generalization of the reference's keyed
    first-write-wins admission, W3 ``…kt:138-141``, from exact keys to
    near-dup content):

    - a doc is a DUP if it est-Jaccard>=0.9-matches anything already
      in the index, OR a smaller-doc_id member of its own batch (the
      standard canonicalize-by-min within-batch rule: if A was itself
      rejected against the index, B~A is transitively a near-dup of
      indexed content — admitting B would re-admit what A was rejected
      for); ``canon_id`` is the minimum matched id across both sources;
    - ADMITTED docs are upserted into ``admitted_path`` through
      `ingest.admit_sink_upsert` (an O(1) write of the
      ``batch_id=N`` partition; a sink without ``batch_id`` is
      refused — see that helper for the replay case analysis)
      and then appended to the index — their ALREADY-COMPUTED
      signatures go through `_write_minhash_index_sigs` directly, so
      admission never re-signs text it just signed to probe.

    EXACTLY-ONCE story under foreachBatch's at-least-once replay — the
    ordering is load-bearing, ledger -> SINK -> INDEX:

    1. the ledger is pinned (eager localCheckpoint) BEFORE any write —
       a lazy ledger evaluated after the index append would re-probe
       the grown index and verdict every admission 'dup';
    2. the sink write precedes the index append: a crash between them
       replays the batch against an index that does NOT yet contain it
       -> same admissions -> the committed sink partition is skipped,
       index append completes. The reverse order would lose documents
       (replay sees the batch's own copies in the index, verdicts
       'dup', and never writes the sink);
    3. a replay AFTER both writes verdicts every doc 'dup' against its
       own indexed copy -> both writes no-op. Any crash point
       converges to the same final sink + index state.

    Scale: probe cost is O(batch bands x touched-bucket occupancy),
    identical to `dedup_incremental_probe`; the within-batch
    self-probe is batch x batch band-bucketed, negligible at CDC batch
    sizes. Index small-file accretion (one file-set per admitted
    batch) is `compact_minhash_index`'s job between probe windows."""
    from ..functions.udfs import spread_for_python
    from ..ingest import admit_sink_upsert

    # Round-robin the batch to session parallelism before signing when
    # (and only when) its partitioning is below it (r20, guide §2.5
    # input-skew class): a small file-source micro-batch scans as ONE
    # partition, and since the checkpointed signature frame is the
    # STREAM side of every broadcast probe join, both probes' band
    # collision + est-Jaccard verification inherited that single
    # partition — the whole admission's heavy work on one core. The
    # exact `admit_ivf_batch` r16 lesson (its repartition was measured
    # 11s -> ~1s per admit call); here the conditional spread guard is
    # used instead so a production-wide batch flows through with ZERO
    # added exchange. Event-log evidence (r20 baseline): the two
    # ledger-materialization jobs ran 1.3s + 1.7s with a single task
    # each at sf0.1/local[32].
    batch_sigs = (
        minhash_signatures(
            spread_for_python(batch_docs.select("doc_id", "text")),
            "doc_id",
            "text",
        )
        .select("doc_id", "sig", *_band_hash_cols())
        .localCheckpoint(eager=True)  # probed twice + admit join
    )
    index = spark.read.parquet(index_path)
    ledger = _admission_ledger(index, batch_sigs).localCheckpoint(
        eager=True  # pin verdicts BEFORE mutating state
    )
    admitted_ids = ledger.filter(F.col("status") == "admitted").select("doc_id")
    if admitted_path is not None:
        admit_sink_upsert(
            spark,
            batch_docs.join(admitted_ids, "doc_id"),
            admitted_path,
            batch_id=batch_id,
        )
    # the batch is already signed (and pinned) — append the admitted
    # signatures directly instead of re-signing the text (self-review
    # r12: the second signature pass doubled the steady-state write
    # path's map work)
    _write_minhash_index_sigs(
        batch_sigs.join(admitted_ids, "doc_id"), index_path, "append"
    )
    return ledger


# (applicationId, sf_dir) -> BASE admission-corpus index path; built
# once per session like minhash_index_for. The base is NEVER mutated —
# admission runs (the twin, the composed curation twin, bench wrappers)
# clone it per invocation (tables.clone_parquet_dir) and grow the clone,
# so timed passes pay a driver-side copy instead of a full corpus
# signature build (VERDICT r12 item 5: the per-invocation build was
# ~2/3 of the twin's 6.8s bench wall).
_ADMIT_CORPUS_INDEX_CACHE: dict[tuple[str, str], str] = {}


def admission_corpus_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Path of the persisted ADMISSION-TWIN corpus index (docs with
    doc_id % 5 == `_ADMIT_CORPUS_RES`), built on first use per session.
    Read-only by contract — callers that admit against it must clone
    first (`tables.clone_parquet_dir`)."""
    from ..tables import warehouse_scratch_path

    key = (spark.sparkContext.applicationId, sf_dir)
    path = _ADMIT_CORPUS_INDEX_CACHE.get(key)
    if path is None:
        path = warehouse_scratch_path(
            spark, "admit_corpus_index", sf_dir, per_app=True
        )
        t = load_tables(spark, sf_dir, "documents")
        build_minhash_index(
            t.documents.filter(F.col("doc_id") % 5 == _ADMIT_CORPUS_RES), path
        )
        _ADMIT_CORPUS_INDEX_CACHE[key] = path
    return path


# Admission-twin split over doc_id % 5: corpus = residue 4, the stream
# = residues 0-3 in two micro-batches. Chosen by measurement (r12): the
# small corpus leaves whole near-dup clusters inside the stream, so at
# sf0.01 five-plus batch-1 verdicts depend ENTIRELY on batch-0
# admissions having entered the index — a broken append flips their
# status and the driver hash. (The first-draft 80%-corpus split left
# every batch-0 admission a cluster singleton: zero growth signal.)
_ADMIT_CORPUS_RES = 4
_ADMIT_BATCHES = ((0, 1), (2, 3))


def _admission_m01_ctes() -> str:
    """The cand/ver/m0/adm0/m1 CTE block of the two-micro-batch
    admission unroll — batch 0 probes the initial corpus plus its own
    earlier members; batch 1 probes corpus + batch-0 ADMISSIONS (m0's
    complement) + its own earlier members; rejected batch-0 docs are
    correctly invisible to batch 1 (they never entered the index).
    Expects ``sigs``/``bands`` CTEs in scope (from `_minhash_sig_ctes`,
    whatever its ``source``) — ONE copy shared verbatim by
    `_admission_oracle` and the composed-curation twin's oracle in
    operators/text.py (a re-derived copy of the growth unroll is how
    sequential-semantics oracles drift)."""
    agree = _minhash_agree_sql()
    cor = _ADMIT_CORPUS_RES
    b0 = ", ".join(map(str, _ADMIT_BATCHES[0]))
    b1 = ", ".join(map(str, _ADMIT_BATCHES[1]))
    return f"""cand AS (
    SELECT DISTINCT a.doc_id AS qid, b.doc_id AS cid
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bsig = b.bsig
    WHERE a.doc_id % 5 <> {cor} AND a.doc_id <> b.doc_id
),
ver AS (
    SELECT c.qid, c.cid
    FROM cand c
    JOIN sigs s1 ON s1.doc_id = c.qid
    JOIN sigs s2 ON s2.doc_id = c.cid
    WHERE ({agree}) / {_MINHASH_PERMS}.0 >= 0.9
),
m0 AS (
    SELECT qid, MIN(cid) AS canon_id, CAST(COUNT(*) AS BIGINT) AS n_matches
    FROM ver
    WHERE qid % 5 IN ({b0})
      AND (cid % 5 = {cor} OR (cid % 5 IN ({b0}) AND cid < qid))
    GROUP BY qid
),
adm0 AS (
    SELECT doc_id FROM sigs
    WHERE doc_id % 5 IN ({b0}) AND doc_id NOT IN (SELECT qid FROM m0)
),
m1 AS (
    SELECT qid, MIN(cid) AS canon_id, CAST(COUNT(*) AS BIGINT) AS n_matches
    FROM ver
    WHERE qid % 5 IN ({b1})
      AND (cid % 5 = {cor}
           OR cid IN (SELECT doc_id FROM adm0)
           OR (cid % 5 IN ({b1}) AND cid < qid))
    GROUP BY qid
)"""


def _admission_oracle() -> str:
    """DuckDB twin of the two-micro-batch admission run: the sequential
    index-growth semantics unrolled via `_admission_m01_ctes`, with one
    ledger row per batch doc."""
    b0 = ", ".join(map(str, _ADMIT_BATCHES[0]))
    b1 = ", ".join(map(str, _ADMIT_BATCHES[1]))
    return f"""WITH {_minhash_sig_ctes()},
{_admission_m01_ctes()}
SELECT s.doc_id,
       CAST(0 AS BIGINT) AS batch,
       CASE WHEN m.canon_id IS NULL THEN 'admitted' ELSE 'dup' END AS status,
       m.canon_id,
       COALESCE(m.n_matches, CAST(0 AS BIGINT)) AS n_matches
FROM sigs s LEFT JOIN m0 m ON m.qid = s.doc_id
WHERE s.doc_id % 5 IN ({b0})
UNION ALL
SELECT s.doc_id,
       CAST(1 AS BIGINT) AS batch,
       CASE WHEN m.canon_id IS NULL THEN 'admitted' ELSE 'dup' END AS status,
       m.canon_id,
       COALESCE(m.n_matches, CAST(0 AS BIGINT)) AS n_matches
FROM sigs s LEFT JOIN m1 m ON m.qid = s.doc_id
WHERE s.doc_id % 5 IN ({b1})"""


@query(
    "stream_admission_twin",
    tables=("documents",),
    oracle=_admission_oracle(),
)
def stream_admission_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the STREAMING ADMISSION pipeline (VERDICT r11
    item 3) — the production shape the reference's 15-minute loop
    (deploy.sh:29) scales to: every arriving micro-batch probes the
    persisted near-dup index, admits only what matched nothing, and
    grows the index with its admissions, so later batches dedup
    against earlier ones without any corpus rescan.

    Derivation (both sides replay the sequential index growth):
    initial corpus = documents with doc_id % 5 == 4, indexed fresh at
    a per-invocation scratch path; two micro-batches (residues {0,1},
    then {2,3}) run through `admit_minhash_batch` — the EXACT function
    `streaming.pipeline.foreach_batch_admission` gives foreachBatch
    (the real-stream run of the same composition lives in
    tests/test_streaming.py). Output: the concatenated admission
    ledgers, one row per batch doc (token-less docs excluded as in
    every MinHash entry) — batch id, 'admitted'/'dup', canonical
    matched id or NULL, match count. A batch-1 doc near-dupping a
    batch-0 ADMISSION verdicts 'dup' (the index grew — measured 5+
    batch-1 verdicts at sf0.01 flip on this alone, see
    _ADMIT_CORPUS_RES); one near-dupping a batch-0 REJECT does not
    match it (rejects never enter the index).

    Scale: two probe-shaped jobs (band equi-joins) + two map-only
    appends; nothing rescans the corpus. The streaming form inherits
    exactly-once from `admit_minhash_batch`'s ledger->sink->index
    ordering (see its docstring)."""
    from ..tables import clone_parquet_dir

    t = load_tables(spark, sf_dir, "documents")
    # per-INVOCATION CLONE of the session-cached base index (r14,
    # closing VERDICT r12 item 5): the index is MUTATED (two appends)
    # every run, so a shared path would let concurrent invocations
    # corrupt each other (the r12 mkdtemp lesson) — but rebuilding the
    # corpus signatures per invocation put an index BUILD inside every
    # timed bench pass. The base is built once per session; each run
    # grows its own driver-side copy. Results are path-independent, so
    # determinism is untouched.
    path = clone_parquet_dir(admission_corpus_index_for(spark, sf_dir))
    ledgers = []
    for b, residues in enumerate(_ADMIT_BATCHES):
        batch = t.documents.filter((F.col("doc_id") % 5).isin(*residues))
        led = admit_minhash_batch(spark, path, batch)
        ledgers.append(
            led.select(
                "doc_id",
                F.lit(b).cast("long").alias("batch"),
                "status",
                "canon_id",
                "n_matches",
            )
        )
    return ledgers[0].unionByName(ledgers[1])


_SIMHASH_BITS = 48  # stays clear of the long sign bit
_SIMHASH_BANDS = 4  # 4 x 12-bit bands: candidates need one equal band
_SIMHASH_MAX_HAMMING = 3


def _simhash_token_hash(tk: F.Column) -> F.Column:
    """Full-width 48-bit portable token hash for SimHash: the first 12
    hex chars of md5 as a BIGINT — every one of the 48 simhash bit
    positions gets a live, unbiased bit. SimHash must NOT reuse
    `_portable_token_hash`: its mod-(2^31-1) reduction (needed for the
    MinHash permutation universe) zeroes bits 31-47, which silently
    turned the top 12-bit band into a constant — every doc pair
    collided in band 3 and the candidate join degenerated to a cross
    product (caught by tools/scale_bench.py's collision gate at x10,
    r7; output values were still correct because both engines hashed
    identically, which is exactly why only a workload-cardinality gate
    could see it)."""
    return F.conv(F.substring(F.md5(tk), 1, 12), 16, 10).cast("bigint")


def _simhash_oracle() -> str:
    """DuckDB twin of the 48-bit SimHash pipeline (portable full-width
    token hash): per-bit +/-1 sums over distinct-token hashes -> sign
    bits -> 4 x 12-bit band equi-join -> Hamming <= 3 via
    bit_count(xor)."""
    s_cols = ",\n           ".join(
        f"SUM(CASE WHEN (h & {1 << i}) != 0 THEN 1 ELSE -1 END) AS s_{i}"
        for i in range(_SIMHASH_BITS)
    )
    sim_expr = " + ".join(
        f"(CASE WHEN s_{i} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(_SIMHASH_BITS)
    )
    bw = _SIMHASH_BITS // _SIMHASH_BANDS
    return f"""
WITH toks AS (
    SELECT doc_id,
           CAST(concat('0x', substr(md5(t.tok), 1, 12)) AS BIGINT) AS h
    FROM documents,
         unnest(list_distinct(string_split_regex(lower(text), '\\s+'))) AS t(tok)
),
bits AS (
    SELECT doc_id,
           {s_cols}
    FROM toks GROUP BY doc_id
),
sims AS (
    SELECT doc_id, CAST({sim_expr} AS BIGINT) AS simhash FROM bits
),
bands AS (
    SELECT doc_id, simhash, band, (simhash >> (band * {bw})) % {1 << bw} AS band_val
    FROM sims CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b
)
SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM bands a
JOIN bands b ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_HAMMING}"""


def simhash_frame(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash) — the 48-bit deterministic simhash used by
    `dedup_simhash`, split out so the scale gate (tools/scale_bench.py)
    can re-band the SAME signatures at a corpus-sized band width."""
    tok = documents.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("tok")
    ).withColumn("h", _simhash_token_hash(F.col("tok")))
    # Sum +1/-1 per bit position over token hashes; sign -> simhash bit.
    # r21 (the r20-deferred F.expr rewrite, landed): the two unrolled
    # 48-term Column loops crossed py4j ~600 times per call (~3ms per
    # Column op on this host; cProfile put simhash_frame at 1.59s of
    # the entry's 2.27s construction) — the minhash_signatures
    # construction-cost class. Each aggregate/CASE term now ships as a
    # parsed SQL string: same CASE/sum trees, same literal widths
    # (optimized plan verified byte-identical), parsed JVM-side.
    # A/B-measured on dedup_neardup_pairs_surface: 4.45 -> 2.50s.
    bit_cols = [
        F.expr(
            f"sum(CASE WHEN (h & {1 << i}) != 0 THEN 1 ELSE -1 END)"
        ).alias(f"s_{i}")
        for i in range(_SIMHASH_BITS)
    ]
    sim_terms = " + ".join(
        f"(CASE WHEN s_{i} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(_SIMHASH_BITS)
    )
    sim_col = F.expr(f"CAST(0 + {sim_terms} AS BIGINT)").alias("simhash")
    agg = tok.groupBy("doc_id").agg(*bit_cols)
    return agg.select("doc_id", sim_col)


def simhash_band_widths(band_bits: int) -> list[int]:
    """Near-equal partition of the 48 fingerprint bits into
    floor(48/band_bits) bands — every band AT LEAST band_bits wide.

    Two failure modes this shape closes (ADVICE r7 + r8 review): the r7
    full-bands-plus-narrow-tail split, where a remainder band
    2^(band_bits - rem) times narrower than its siblings dominates the
    RANDOM collision count (measured +37% total collisions at x2 from
    the lone 9-bit tail at band_bits=13); and the ceil-based balanced
    split, which silently returned bands NARROWER than requested at
    non-divisor widths (band_bits=14 -> four 12-bit bands), under-
    pricing the 2^band_bits collision budget the width policy promises.
    floor-based balancing guarantees min(width) >= band_bits (the
    collision bound holds) with all widths within 1 bit of each other;
    the cost is fewer bands at non-divisor widths (13 -> 3x16 instead
    of 4x12), i.e. the policy rounds width UP to the next divisor-ish
    split — strictly safer on collisions, slightly fewer collision
    chances per true near-dup pair."""
    n_bands = max(1, _SIMHASH_BITS // band_bits)
    base, rem = divmod(_SIMHASH_BITS, n_bands)
    return [base + 1] * rem + [base] * (n_bands - rem)


def simhash_bands(simhash: DataFrame, band_bits: int) -> DataFrame:
    """Explode (doc_id, simhash) into (doc_id, simhash, band, band_val)
    at a given band width. Collision-bucket sizes shrink ~2x per extra
    bit, so band_bits is THE scale knob: hold recall by keeping
    total-bits/bands constant while widening bands as the corpus grows
    (random band collisions go as n^2/2^band_bits — fixed width is
    quadratic at scale, width ~ 2*log2(n) keeps them linear). All 48
    bits are always covered, in near-equal widths of AT LEAST
    band_bits each (`simhash_band_widths`) — never a narrow tail,
    never a band narrower than requested."""
    widths = simhash_band_widths(band_bits)
    slices, off = [], 0
    for w_bits in widths:
        slices.append(F.shiftrightunsigned("simhash", off) % F.lit(1 << w_bits))
        off += w_bits
    return simhash.select(
        "doc_id",
        "simhash",
        F.posexplode(F.array(*slices)).alias("band", "band_val"),
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup — ORACLE-CHECKED: 48-bit deterministic simhash
    from portable (md5-based) token hashes, so DuckDB replays the exact
    pipeline (_simhash_oracle); candidates share one of 4 12-bit bands
    (LSH), and survive if Hamming distance <= 3 over all 48 bits.

    Per-doc cost is O(tokens); the candidate join is keyed on
    (band, band_val) so it scales like a hash join whose bucket sizes
    shrink exponentially with band width — widen bands before corpus
    growth makes buckets hot.
    """
    t = load_tables(spark, sf_dir, "documents")
    banded = simhash_bands(
        simhash_frame(t.documents), _SIMHASH_BITS // _SIMHASH_BANDS
    )
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(hamming <= _SIMHASH_MAX_HAMMING)
        .select(
            F.col("a.doc_id").alias("id1"),
            F.col("b.doc_id").alias("id2"),
            hamming.cast("int").alias("hamming"),
        )
        .dropDuplicates(["id1", "id2"])
    )


# DuckDB twin of the bounded-slice cosine pairs — the 'cosine' branch
# oracle of `dedup_neardup_pairs_surface` (consolidated r12 alongside
# the simhash branch, see that entry).
_EMBED_COSINE_ORACLE = """
WITH v AS (
    SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
           sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
    FROM embeddings WHERE vec_id < 250
)
SELECT a.vec_id AS id1, b.vec_id AS id2,
       ROUND(list_inner_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE list_inner_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.35
"""


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup on a bounded slice (vec_id < 250):
    all-pairs cosine >= 0.35 via JVM-side higher-order functions
    (zip_with + aggregate — no Python in the loop). The unbounded-scale
    variant is the LSH-bucketed ANN in operators/similarity.py."""
    t = load_tables(spark, sf_dir, "embeddings")
    v = (
        t.embeddings.filter(F.col("vec_id") < 250)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        )
        .withColumn(
            "nrm",
            F.sqrt(F.aggregate(F.transform("e", lambda x: x * x), F.lit(0.0), lambda a, x: a + x)),
        )
    )
    a, b = v.alias("a"), v.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.e"), F.col("b.e"), lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    cosine = dot / (F.col("a.nrm") * F.col("b.nrm"))
    # 0.35 is calibrated to the random-vector fixture (max pair cosine
    # ~0.44 at sf0.01) so the oracle verifies real arithmetic on a
    # non-empty result; production near-dup thresholds (~0.9) on real
    # clustered embeddings use the identical plan.
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("cosine", cosine)
        .filter(F.col("cosine") >= 0.35)
        .select(F.col("a.vec_id").alias("id1"), F.col("b.vec_id").alias("id2"), ratio(F.col("cosine")).alias("cosine"))
    )


@query(
    "dedup_neardup_pairs_surface",
    tables=("documents", "embeddings"),
    oracle=f"""
SELECT 'simhash' AS path, id1, id2, CAST(hamming AS DOUBLE) AS score
FROM ({_simhash_oracle()})
UNION ALL
SELECT 'cosine' AS path, id1, id2, cosine AS score
FROM ({_EMBED_COSINE_ORACLE})
""",
)
def dedup_neardup_pairs_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two remaining standalone near-dup pair operators as one
    tagged surface (r12 -2/+1 consolidation for EDF window capacity,
    VERDICT r11 item 7 — `dedup_simhash` was its own entry since r2 and
    `dedup_embedding_cosine` since r2; both functions remain the real
    implementations with their full docstrings and the simhash
    bit-degeneration scale gate in tools/scale_bench.py):

    - path 'simhash': 48-bit deterministic SimHash pairs — 4x12-bit
      band LSH candidates, Hamming <= 3 verification (score = the
      Hamming distance);
    - path 'cosine': all-pairs embedding cosine >= 0.35 on the bounded
      vec_id < 250 slice (score = the cosine; the unbounded scale path
      is the bucketed ANN family in operators/similarity.py).

    Scale shapes are the branches' own: band-bucketed equi-join vs a
    deliberately bounded quadratic slice."""
    sim = dedup_simhash(spark, sf_dir).select(
        F.lit("simhash").alias("path"),
        "id1",
        "id2",
        F.col("hamming").cast("double").alias("score"),
    )
    cos = dedup_embedding_cosine(spark, sf_dir).select(
        F.lit("cosine").alias("path"),
        "id1",
        "id2",
        F.col("cosine").alias("score"),
    )
    return sim.unionByName(cos)


# Exact asymmetric-containment semantics on the bounded slice — the
# shared oracle of BOTH containment entries: the all-pairs formulation
# (`dedup_shingle_containment`) and the prefix-filtered scale path
# (`dedup_containment_prefix`) must hash to the SAME result, which is
# the equivalence that makes the scale path trustworthy.
_CONTAINMENT_EXACT_ORACLE = """
WITH docs AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
    FROM documents WHERE doc_id < 500
),
sh AS (
    SELECT doc_id,
           list_distinct(
               CASE WHEN len(toks) >= 3
                    THEN list_transform(range(0, len(toks) - 2),
                         i -> concat_ws(' ', toks[i + 1], toks[i + 2], toks[i + 3]))
                    ELSE [] END) AS shingles
    FROM docs
),
tok AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
sizes AS (SELECT doc_id, len(shingles) AS n FROM sh WHERE len(shingles) > 0),
common AS (
    SELECT a.doc_id AS id_src, b.doc_id AS id_dst, CAST(COUNT(*) AS BIGINT) AS c
    FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id <> b.doc_id
    GROUP BY 1, 2
)
SELECT id_src, id_dst,
       ROUND(CAST(c AS DOUBLE) / s1.n, 6)              AS containment,
       ROUND(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 6) AS jaccard
FROM common
JOIN sizes s1 ON s1.doc_id = id_src
JOIN sizes s2 ON s2.doc_id = id_dst
WHERE CAST(c AS DOUBLE) / s1.n >= 0.7
"""


def shingle_arrays(documents: DataFrame) -> DataFrame:
    """(doc_id, shingles) — each doc's DISTINCT 3-token shingle set as an
    array column; shingle-less docs (< 3 tokens) dropped. Shared by both
    containment entries and the scale gate."""
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    docs = documents.select("doc_id", toks.alias("toks"))
    tk = F.col("toks")
    shingles = F.array_distinct(
        F.when(
            F.size(tk) >= 3,
            F.transform(
                F.sequence(F.lit(0), F.size(tk) - 3),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(tk, i + 1),
                    F.element_at(tk, i + 2),
                    F.element_at(tk, i + 3),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    # materialize the shingle ARRAY as a column before explode/size:
    # referencing the transform expression twice would re-evaluate it
    # per access under codegen (the decon lesson, text.py). The
    # shingle-less filter tests size(toks) >= 3 — exactly equivalent
    # (>= 3 tokens always yields >= 1 distinct shingle) — so predicate
    # pushdown substitutes only the tokenize, not the full shingle
    # build, below the caller's spread exchange (r20: the pushed
    # size(shingles) > 0 form re-ran the whole shingle transform
    # per row in the single-task scan stage, measured 1.22s of the
    # entry's 2.9s wall in the event log).
    return (
        docs.filter(F.size("toks") >= 3)
        .select("doc_id", shingles.alias("shingles"))
    )


@query(
    "dedup_shingle_containment",
    tables=("documents",),
    oracle=_CONTAINMENT_EXACT_ORACLE,
)
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup: containment C(a->b) = |S(a) ∩ S(b)| / |S(a)|
    over 3-token shingle sets — "how much of a is inside b". The measure
    behind quote, boilerplate and partial-copy detection: a 200-token
    page embedded in a 10k-token page has tiny Jaccard
    (union-dominated) but containment ~1.0, so resemblance dedup never
    sees it. Directed pairs, both directions emitted when both clear
    the bar (C(a->b) != C(b->a) whenever set sizes differ — the jaccard
    column rides along to make the asymmetry visible in the result).
    Shingles (not unigram tokens) are what make the measure selective:
    on this small-vocab fixture unigram containment saturates (~53% of
    pairs >= 0.8) while 3-gram containment isolates the ~50 true
    near-dup directions at 0.7.

    Bounded exact slice (doc_id < 500), same framing as
    `dedup_ngram_jaccard`: this is the correctness oracle; the 100 TB
    path is `dedup_containment_prefix` below — prefix-filtered bucketed
    candidates + exact containment per candidate, hash-checked against
    THIS entry's oracle (r8, VERDICT r7 item 3)."""
    t = load_tables(spark, sf_dir, "documents")
    sh = shingle_arrays(t.documents.filter(F.col("doc_id") < 500))
    tok = sh.select("doc_id", F.explode("shingles").alias("s"))
    sizes = sh.select("doc_id", F.size("shingles").alias("n"))
    a, b = tok.alias("a"), tok.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_src"), F.col("b.doc_id").alias("id_dst"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s1 = sizes.select(F.col("doc_id").alias("id_src"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("id_dst"), F.col("n").alias("n2"))
    cont = F.col("c").cast("double") / F.col("n1")
    jac = F.col("c").cast("double") / (F.col("n1") + F.col("n2") - F.col("c"))
    return (
        common.join(F.broadcast(s1), "id_src")
        .join(F.broadcast(s2), "id_dst")
        .filter(cont >= 0.7)
        .select(
            "id_src",
            "id_dst",
            ratio(cont).alias("containment"),
            ratio(jac).alias("jaccard"),
        )
    )


# Containment threshold as a RATIONAL (7/10): the prefix length must be
# derived in integer arithmetic — ceil(0.7 * n) through float multiply
# rounds 0.7*10 up to 7.000000000000001, ceil'ing to 8 and silently
# shortening the prefix below the no-false-negative bound.
_CONTAIN_NUM, _CONTAIN_DEN = 7, 10


def containment_prefix_plan(
    sh: DataFrame, num: int = _CONTAIN_NUM, den: int = _CONTAIN_DEN
) -> tuple[DataFrame, DataFrame]:
    """(candidates, verified pairs) of the containment prefix join at
    threshold num/den (a rational: the integer prefix bound never
    passes through a float), built over one shared checkpointed rank
    table. Candidates are the distinct directed (id_src, id_dst) pairs
    sharing >= 1 probe-prefix shingle that pass two zero-recall-loss
    prunes (the AllPairs/PPJoin length and positional bounds):

    - length, in the join condition (prunes before the candidate
      shuffle): the overlap never exceeds |S(dst)|, so C(src->dst) >=
      num/den needs n_dst*den >= num*n_src;
    - positional, per pair (PPJoin ubound): both docs rank their
      shingles i/j in the same global rarest-first order (df, s), so at
      the pair's first prefix match no earlier shingle can be shared
      (prefixes are order-downward closed), hence overlap <= 1 +
      min(n_src - i, n_dst - j); pairs whose bound misses
      req = ceil(num*n_src/den) drop before the array_intersect verify.

    Measured at the scale gate's x1 corpus:
    - the two prunes: 484,838 -> 301,538 candidates (1.6x), pairs
      unchanged at 512;
    - the last-match bound (overlap <= #prefix-matches + min remaining
      suffix) prunes 0 further candidates: the residual is similar-size
      doc pairs sharing one rare shingle early in both prefixes, and
      suffix probing (PPJoin+) does not decompose into a relational join;
    - count(candidates)+count(pairs) walls at x1/x10: bare prefix
      4.6/14.3 s, pruned 5.5/15.3 s (the rank checkpoint costs ~1 s at
      x1), pruned with a warm rank table 2.7 s at x1.

    tools/scale_bench.py counts both sets through this one plan, so the
    rank checkpoint materializes once."""
    tok = sh.select(
        "doc_id", F.size("shingles").alias("n"), F.explode("shingles").alias("s")
    )
    dfreq = tok.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    ranked = tok.join(dfreq, "s")
    # rank within each doc by the GLOBAL total order (df, s): df is a
    # function of s, so every doc ranks its shingles consistently.
    # localCheckpoint: both join sides (probe and index) read this
    # table, and Spark does not common-subexpression subtrees; the
    # uncheckpointed form re-runs explode+df-join+window per side.
    pos = ranked.withColumn(
        "rn", F.row_number().over(W.partitionBy("doc_id").orderBy("df", "s"))
    ).localCheckpoint(eager=True)
    # required overlap req = ceil(num*n/den) in pure integers; prefix
    # keeps n - req + 1 rarest shingles
    prefix_len = F.col("n") - F.expr(
        f"({num} * n + {den} - 1) div {den}"
    ) + 1
    probe = pos.filter(F.col("rn") <= prefix_len).select(
        F.col("doc_id").alias("id_src"),
        F.col("n").alias("n_src"),
        F.col("rn").alias("i"),
        "s",
    )
    index = pos.select(
        F.col("doc_id").alias("id_dst"),
        F.col("n").alias("n_dst"),
        F.col("rn").alias("j"),
        "s",
    )
    # first match per pair = min over (i, j), encoded as ONE BIGINT
    # (i << 32 | j — ranks are doc positions, far below 2^32, so the
    # integer order IS the lexicographic order): min(struct) only plans
    # as a SortAggregate, which would sort the whole candidate-witness
    # table on both sides of its shuffle; min(bigint) hash-aggregates
    # with map-side partials. n_src/n_dst are constant per pair -> max.
    first_match = F.min(
        F.shiftleft(F.col("i").cast("long"), 32) + F.col("j")
    ).alias("ij")
    req = F.expr(f"({num} * n_src + {den} - 1) div {den}")
    ubound_ok = F.expr(
        f"1 + least(n_src - i, n_dst - j) >= ({num} * n_src + {den} - 1) div {den}"
    )
    cand = (
        probe.join(
            index,
            (probe.s == index.s)
            & (F.col("id_src") != F.col("id_dst"))
            & (F.col("n_dst") * den >= F.col("n_src") * num)
            # row-level positional prune, BEFORE the candidate shuffle:
            # safe because a qualifying pair's true first match always
            # satisfies its own ubound (see the docstring), so it is
            # never dropped here — only witness rows that could not
            # seed a qualifying pair are
            & ubound_ok,
        )
        .groupBy("id_src", "id_dst")
        .agg(first_match, F.max("n_src").alias("n_src"), F.max("n_dst").alias("n_dst"))
        .filter(
            1
            + F.least(
                F.col("n_src") - F.shiftrightunsigned("ij", 32),
                F.col("n_dst") - F.col("ij").bitwiseAND(F.lit((1 << 32) - 1)),
            )
            >= req
        )
        .select("id_src", "id_dst")
    )
    s1 = sh.select(F.col("doc_id").alias("id_src"), F.col("shingles").alias("sh1"))
    s2 = sh.select(F.col("doc_id").alias("id_dst"), F.col("shingles").alias("sh2"))
    c = F.size(F.array_intersect("sh1", "sh2"))
    n1 = F.size("sh1")
    n2 = F.size("sh2")
    cont = c.cast("double") / n1
    jac = c.cast("double") / (n1 + n2 - c)
    pairs = (
        cand.join(s1, "id_src")
        .join(s2, "id_dst")
        .filter(cont >= num / den)
        .select(
            "id_src",
            "id_dst",
            ratio(cont).alias("containment"),
            ratio(jac).alias("jaccard"),
        )
    )
    return cand, pairs


def containment_prefix_pairs(
    sh: DataFrame, num: int = _CONTAIN_NUM, den: int = _CONTAIN_DEN
) -> DataFrame:
    """Prefix-filtered containment join over (doc_id, shingles) — the
    bucketed 100 TB path for asymmetric (doc-in-doc) near-dup, with
    EXACT recall (unlike LSH banding, no probabilistic misses):

    1. global shingle document-frequency (one groupBy shuffle) orders
       every doc's shingles rarest-first;
    2. prefix filter (AllPairs/PPJoin family): containment
       C(src->dst) >= t needs |S(src) ∩ S(dst)| >= ceil(t*n_src), so if
       the first n_src - ceil(t*n_src) + 1 shingles of src (in ANY
       global order) all miss dst, src cannot qualify — probing only
       that prefix against the full shingle index generates every
       qualifying pair with zero false negatives; rarest-first ordering
       just minimizes candidates (common shingles never enter a probe
       prefix until the doc is nearly all boilerplate);
    3. candidates are DISTINCT id-pairs from a shingle-keyed equi-join
       (bucketed like the LSH families — never all-pairs; candidate
       volume = sum of prefix shingle frequencies, measured linear at
       x10 by tools/scale_bench.py);
    4. exact containment per candidate: re-attach the two shingle
       ARRAYS and intersect per pair (array_intersect, JVM-side) — no
       second explode, per-pair cost O(|S_src| + |S_dst|).

    Returns directed (id_src, id_dst, containment, jaccard) pairs with
    containment >= num/den (default 7/10) — at the default threshold,
    identical semantics (and identical DuckDB oracle) to the all-pairs
    `dedup_shingle_containment`.
    """
    return containment_prefix_plan(sh, num, den)[1]


@query(
    "dedup_containment_prefix",
    tables=("documents",),
    oracle=_CONTAINMENT_EXACT_ORACLE,
)
def dedup_containment_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE PATH for asymmetric containment dedup (r8, VERDICT r7
    item 3), run on the same bounded slice as `dedup_shingle_containment`
    and hash-checked against the SAME exact-semantics oracle — the
    driver proves prefix-filter candidates + per-candidate verification
    reproduce the all-pairs answer bit-for-bit. See
    `containment_prefix_pairs` for the algorithm and its guarantees;
    tools/scale_bench.py measures candidate growth at x1/x10 on the
    UNBOUNDED corpus (the part this bounded entry cannot show).

    Why this beats the docstring-promised MinHash-band variant it
    replaces (r7 `dedup.py:666-671`): LSH banding of resemblance
    signatures loses exactly the asymmetric pairs containment exists to
    find (a small doc inside a huge one shares few signature bands),
    while the prefix filter's guarantee is derived from the containment
    bound itself — deterministic recall, still bucketed, still
    all-pairs-free.

    The shingle table is localCheckpoint'ed before the join: the plan
    references it four times (probe, index, and both verify sides) and
    Spark does not common-subexpression subtrees, so the uncheckpointed
    form re-tokenizes the corpus 4x — measured 4.0s -> 1.6s at sf0.1
    (the minhash signature lesson; on a cluster persist() or a staged
    parquet snapshot plays the same role)."""
    from ..functions.udfs import spread_for_python

    t = load_tables(spark, sf_dir, "documents")
    # Spread before shingling (r20): the checkpointed shingle table is
    # referenced four times downstream, and a single-file scan pins the
    # tokenize pass AND every consumer stage (probe explode, verify
    # array_intersect per candidate) to its ONE partition. Conditional:
    # a production-wide scan flows through with zero added exchange.
    sh = shingle_arrays(
        spread_for_python(
            t.documents.filter(F.col("doc_id") < 500).select("doc_id", "text")
        )
    ).localCheckpoint(eager=True)
    return containment_prefix_pairs(sh)


# --- span-level exact-substring dedup (VERDICT r14 item 1) -----------------
#
# Doc-level resemblance (MinHash, SimHash, containment) PROVABLY misses
# the ExactSubstr class of duplication: a ~K-token passage shared
# VERBATIM by two otherwise-different documents moves token-set Jaccard
# by ~K/|doc| — far under every near-dup threshold — yet is exactly the
# boilerplate/quotation mass a training-data pipeline must find. The
# reference's keyed dedup model (ON CONFLICT on whole rows,
# NytimesBatchProcessorApplication.kt:138-141) generalizes worst to this
# class: its unit of identity is the whole record. This operator's unit
# is the K-token window.

_XSUB_WINDOW = 25  # tokens per window: spans shorter than this are noise
# Boilerplate valve: a window hash occurring more than this many times
# corpus-wide is dropped BEFORE the collision self-join. This is the
# operator's structural linearity guarantee — candidate pairs are
# bounded by CAP * surviving windows, so a hot header/footer repeated
# across millions of docs cannot go quadratic (the same discipline
# suffix-array ExactSubstr deduplicators apply to super-frequent
# substrings). Spans inside capped boilerplate are a reporting choice,
# not a dedup signal.
_XSUB_MAX_FREQ = 64


def exact_substring_windows(documents: DataFrame) -> DataFrame:
    """(doc_id, pos, h): one row per K-token sliding window, pos 1-based
    in FILTERED token order, h = the portable 60-bit md5 window hash
    (`conv(substr(md5(window_text), 1, 15), 16, 10)` — the
    `_portable_token_hash` construction over the space-joined window
    WITHOUT that helper's mod-(2^31-1) reduction: the full 60 bits keep
    the collision odds at ~2^-60 where a 31-bit key would collide
    constantly at corpus scale (the `_simhash_token_hash` width lesson)
    — a consolidation pass must NOT 'deduplicate' this into a
    `_portable_token_hash` call or every hash diverges from the DuckDB
    oracle's un-reduced CAST. Shared by the catalog entry and the
    scale gate's xsub family.

    Scale shape: MAP-ONLY — tokenize once into a materialized array
    column (the codegen CSE lesson at `minhash_signatures`), then ONE
    transform(sequence(...)) builds all windows and explode streams them
    out; no shuffle until the frequency count. md5-per-window re-hashes
    each token K times versus a rolling polynomial hash's once, but
    stays engine-portable (oracle-replayable) and embarrassingly
    parallel — CPU on the map side is the cheapest resource at 100 TB;
    a Karp-Rabin prefix-sum rolling hash over `_portable_token_hash`
    values is the drop-in upgrade if window hashing ever dominates a
    profile."""
    k = _XSUB_WINDOW
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    docs = documents.select("doc_id", toks.alias("toks")).filter(
        F.size("toks") >= k
    )
    win = F.transform(
        F.sequence(F.lit(1), F.size("toks") - (k - 1)),
        lambda i: F.struct(
            i.cast("bigint").alias("pos"),
            F.conv(
                F.substring(
                    F.md5(F.array_join(F.slice("toks", i, k), " ")), 1, 15
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("h"),
        ),
    )
    return docs.select("doc_id", F.explode(win).alias("w")).select(
        "doc_id", "w.pos", "w.h"
    )


def exact_substring_survivors(documents: DataFrame) -> DataFrame:
    """Windows surviving the collision prefilter: corpus-wide window
    frequency in [2, _XSUB_MAX_FREQ]. The >= 2 bound is a pure
    optimization (a once-occurring window cannot collide — at corpus
    scale this discards the overwhelming majority of windows BEFORE the
    self-join materializes anything); the <= CAP bound is semantics
    (the boilerplate valve above, mirrored in the oracle). ONE shuffle:
    the frequency count partitions by h, which is exactly the
    self-join's key, so the join downstream reuses the partitioning
    instead of re-exchanging."""
    freq = F.count(F.lit(1)).over(W.partitionBy("h"))
    return (
        exact_substring_windows(documents)
        .withColumn("_c", freq)
        .filter((F.col("_c") >= 2) & (F.col("_c") <= _XSUB_MAX_FREQ))
        .drop("_c")
    )


def exact_substring_candidates(surv: DataFrame) -> DataFrame:
    """(id1, id2, pos1, pos2) window-hash collisions across docs
    (id1 < id2) — the self-join stage of the span pipeline, split out
    so the scale gate can count candidates and merge spans over ONE
    executed join (self-review r15: measuring them as two separate
    plans ran the dominant join twice inside the timed window). The
    join reuses the survivors' h-partitioning."""
    a, b = surv.alias("a"), surv.alias("b")
    return (
        a.join(b, "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id1"),
            F.col("b.doc_id").alias("id2"),
            F.col("a.pos").alias("pos1"),
            F.col("b.pos").alias("pos2"),
        )
    )


def merge_collision_spans(cand: DataFrame) -> DataFrame:
    """Merge ADJACENT collisions on each alignment diagonal
    (pos1 - pos2) into maximal runs via the islands trick
    (pos1 - row_number() is constant exactly on consecutive pos1
    runs). A shared passage of L >= K tokens surfaces as one span row
    (id1, id2, start1, start2, span_len = L): its L - K + 1 windows
    all collide on one diagonal and merge.

    Shuffle ledger: ONE exchange by (id1, id2, diag) — collision rows
    only, already capped linear by the frequency valve — shared by the
    islands window and the final groupBy. Hash collisions (60-bit
    truncated md5) merge unrelated spans at ~2^-60 per pair — the same
    accepted risk as the MinHash band oracle's list-equality note."""
    k = _XSUB_WINDOW
    # project diag BEFORE the window and partition the window on the
    # projected COLUMN: partitioning on the raw pos1-pos2 expression
    # gives the window an internal _w0 attribute the downstream groupBy
    # cannot match, forcing a second full exchange of the collision set
    # (measured in the executed plan); on the shared column the groupBy
    # keys are a superset of the window's partitioning and reuse it.
    withdiag = cand.select(
        "id1", "id2", "pos1", "pos2", (F.col("pos1") - F.col("pos2")).alias("diag")
    )
    # dense_rank, NOT row_number (self-review r15): on distinct pos1
    # runs they are identical, but a DUPLICATED candidate row (e.g. a
    # replayed append wrote a doc's windows twice) gets the same rank
    # as its twin under dense_rank — row_number would assign rn, rn+1
    # to the two copies and fragment every later island on the
    # diagonal into wrong short spans. The groupBy then absorbs the
    # duplicates (min/max are duplicate-blind).
    rw = W.partitionBy("id1", "id2", "diag").orderBy("pos1")
    runs = withdiag.select(
        "id1",
        "id2",
        "pos1",
        "pos2",
        "diag",
        (F.col("pos1") - F.dense_rank().over(rw)).alias("island"),
    )
    return (
        runs.groupBy("id1", "id2", "diag", "island")
        .agg(
            F.min("pos1").alias("start1"),
            F.min("pos2").alias("start2"),
            (F.max("pos1") - F.min("pos1") + F.lit(k))
            .cast("bigint")
            .alias("span_len"),
        )
        .select("id1", "id2", "start1", "start2", "span_len")
    )


def exact_substring_spans(surv: DataFrame) -> DataFrame:
    """Maximal shared spans from surviving windows — the composition
    `merge_collision_spans(exact_substring_candidates(surv))`; see the
    two stages for the join/merge semantics and shuffle ledger."""
    return merge_collision_spans(exact_substring_candidates(surv))


def intradoc_survivors(documents: DataFrame) -> DataFrame:
    """Windows surviving the PER-DOC collision prefilter: frequency of
    the window hash WITHIN ITS OWN DOCUMENT in [2, _XSUB_MAX_FREQ].
    The cross-doc valve does not apply here — corpus boilerplate is
    irrelevant to whether a doc repeats ITSELF — and the per-doc cap
    plays the same structural role (a doc repeating one phrase
    hundreds of times is intra-doc boilerplate whose pair count would
    go quadratic in the repeat count). The >= 2 side is the same pure
    optimization: a window unique within its doc cannot self-collide."""
    freq = F.count(F.lit(1)).over(W.partitionBy("doc_id", "h"))
    return (
        exact_substring_windows(documents)
        .withColumn("_c", freq)
        .filter((F.col("_c") >= 2) & (F.col("_c") <= _XSUB_MAX_FREQ))
        .drop("_c")
    )


def intradoc_candidates(surv: DataFrame) -> DataFrame:
    """(id1 = id2 = doc_id, pos1 < pos2) window-hash collisions WITHIN
    one document — the id1/id2 doubling is deliberate, so the shared
    `merge_collision_spans` (islands on the (id1, id2, diag) key)
    applies verbatim. The join key is (doc_id, h): every candidate is
    doc-LOCAL, so at scale this stage is embarrassingly parallel per
    document — no cross-doc data movement exists anywhere in the
    chain, unlike the corpus self-join."""
    a, b = surv.alias("a"), surv.alias("b")
    return (
        a.join(b, ["doc_id", "h"])
        .filter(F.col("a.pos") < F.col("b.pos"))
        .select(
            F.col("doc_id").alias("id1"),
            F.col("doc_id").alias("id2"),
            F.col("a.pos").alias("pos1"),
            F.col("b.pos").alias("pos2"),
        )
    )


def strip_shared_spans(documents: DataFrame, spans: DataFrame) -> DataFrame:
    """One concrete consumer of the span report: CUT every reported
    span from the HIGHER-id document of each pair (the span stays in
    the lower-id doc — the same smaller-id-wins convention as the
    admission canonicalizer), returning (doc_id, text, n_tokens_cut).

    Contract: the output text is the NORMALIZED token stream
    (lowercased, single-spaced, empty tokens dropped) for EVERY doc —
    the coordinate system the span report is expressed in; returning
    original text for untouched docs would make the output's
    normalization depend on whether a doc happened to share a passage.
    Overlapping spans (one passage reported against several peers, or
    adjacent maximal runs) compose naturally: a token is dropped when
    ANY cut covers its position, so double-counting is impossible.

    Scale shape: spans aggregate per victim doc (collect_list over the
    span rows — bounded by the frequency valve), one left join into
    the corpus, then a per-row position mask entirely in higher-order
    functions (transform + exists — O(tokens x cuts) per doc, JVM-side,
    no UDF). Docs with no cuts skip the mask via the null guard."""
    per_doc = spans.groupBy(F.col("id2").alias("doc_id")).agg(
        F.collect_list(F.struct("start2", "span_len")).alias("cuts")
    )
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    docs = documents.select("doc_id", toks.alias("toks"))
    joined = docs.join(per_doc, "doc_id", "left")
    # positions are 1-based, matching the span report
    indexed = F.transform(
        F.col("toks"), lambda t, i: F.struct(t.alias("t"), (i + 1).alias("p"))
    )
    kept = F.filter(
        indexed,
        lambda s: ~F.exists(
            "cuts",
            lambda c: (s["p"] >= c["start2"])
            & (s["p"] < c["start2"] + c["span_len"]),
        ),
    )
    surviving = F.when(F.col("cuts").isNull(), F.col("toks")).otherwise(
        F.transform(kept, lambda s: s["t"])
    )
    return joined.select(
        "doc_id",
        F.array_join(surviving, " ").alias("text"),
        (F.size("toks") - F.size(surviving)).cast("long").alias("n_tokens_cut"),
    )


# Bucket count for the persisted window index's partition layout: the
# probe joins on (hb, h), so hb = pmod(h, _XSUB_BUCKETS) is what lets
# dynamic partition pruning cut the index scan to the batch's buckets.
# 64 keeps directory counts trivial locally; at 100 TB pick thousands
# (the same dial as the IVF cell count).
_XSUB_BUCKETS = 64


def _with_bucket(windows: DataFrame) -> DataFrame:
    """ONE copy of the bucket idiom: ``hb = pmod(h, _XSUB_BUCKETS)``
    cast to INT — the partition column reads back as int, and a bigint
    probe key would wrap the DPP pruning expression in a cast (the
    plan pin checks only the catalog probe's path, so a pasted copy
    dropping the cast elsewhere would silently disable pruning there —
    the r11 eight-sites lesson)."""
    return windows.withColumn(
        "hb", F.pmod("h", F.lit(_XSUB_BUCKETS)).cast("int")
    )


def build_window_index(docs: DataFrame, path: str) -> None:
    """Build and PERSIST the ExactSubstr window index: one parquet row
    per K-token window (doc_id, pos, h), partitioned by the hash
    bucket ``hb = pmod(h, _XSUB_BUCKETS)`` — the suffix-array analogue
    as a TABLE LAYOUT (the `build_minhash_index` /
    `build_ivf_parquet_index` pattern, third instance). Built once per
    corpus version (map-only window pass + one window-frequency
    exchange), appended to as batches are admitted, probed by every
    arriving batch without re-windowing the corpus.

    The boilerplate valve applies AT BUILD TIME: windows whose corpus
    frequency exceeds `_XSUB_MAX_FREQ` are not indexed (a batch window
    matching them would explode candidates for content no one would
    cut span-by-span — it's corpus boilerplate). Unlike the corpus
    self-join there is NO >= 2 prefilter: a once-occurring corpus
    window must stay probe-able, since the collision partner arrives
    in a FUTURE batch. Appends can drift a window's true frequency
    past the valve (the build snapshot is what's enforced); a rebuild
    re-applies it — the same freshness contract as the IVF sidecar's
    trained quantizer."""
    win = exact_substring_windows(docs)
    freq = F.count(F.lit(1)).over(W.partitionBy("h"))
    surv = (
        win.withColumn("_c", freq)
        .filter(F.col("_c") <= _XSUB_MAX_FREQ)
        .drop("_c")
    )
    _with_bucket(surv).write.mode("overwrite").partitionBy("hb").parquet(path)


def append_to_window_index(docs: DataFrame, path: str) -> None:
    """Admit a batch INTO the persisted window index: the same map-only
    window pass, appended under the existing ``hb`` partitioning — the
    next probe's bucket join sees the admitted documents' windows
    immediately. No per-append frequency valve (it would need a
    corpus-wide count per micro-batch); the build-time snapshot holds
    until the next rebuild."""
    _with_bucket(exact_substring_windows(docs)).write.mode(
        "append"
    ).partitionBy("hb").parquet(path)


def window_index_or_empty(
    spark: SparkSession, path: str, docs_like: DataFrame
) -> DataFrame:
    """Read the persisted window index or, when ``path`` does not exist
    yet, an empty window frame with the index's exact schema (the
    production window builder over ``docs_like``'s zero-row slice, so
    the two never drift). This is the fresh-deployment bootstrap: the
    first micro-batch of `stream_span_reports` probes against nothing,
    reports no spans, and its own `append_to_window_index` creates the
    index under the standard ``hb=`` bucket layout, so no
    `build_window_index` is needed first. A pre-built corpus index is
    still the better start (its build-time frequency valve filters
    corpus boilerplate; appends bypass the valve by design).

    An existing path is read with the bootstrap frame's explicit
    schema, never inference: if batch 0's bootstrapping append crashes
    mid-write, the dir holds only ``_temporary`` droppings and no
    parquet footer, and an inferring read would fail 'Unable to infer
    schema' on every later replay. With the schema pinned, a footerless
    dir reads as zero rows and the replay re-creates the index.

    The pinned read would read a schema-drifted index (a column added
    or renamed by another builder version) silently as nulls, feeding
    null hashes into the probe join. So when the dir holds footers, the
    on-disk column set is checked against the builder schema first (a
    footer-only inference) and a mismatch raises. Only
    ``AnalysisException`` (UNABLE_TO_INFER_SCHEMA, what a dir holding
    only ``_temporary`` droppings raises) is the footerless case; any
    other inference failure (a corrupt footer surfaces as a
    SparkException FAILED_READ_FILE, permission and IO errors likewise)
    propagates instead of passing for a fresh bootstrap."""
    from pyspark.errors import AnalysisException

    from ..tables import _hfs

    empty = _with_bucket(exact_substring_windows(docs_like.limit(0)))
    fs, hpath = _hfs(spark, path)
    if fs.exists(hpath):
        try:
            on_disk = set(spark.read.parquet(path).schema.names)
        except AnalysisException:  # footerless dir: no footers to check
            on_disk = None
        if on_disk is not None and on_disk != set(empty.schema.names):
            raise ValueError(
                f"window index at {path} has drifted schema: on-disk "
                f"{sorted(on_disk)} vs builder {sorted(empty.schema.names)}; "
                "rebuild the index with the current builder"
            )
        return spark.read.schema(empty.schema).parquet(path)
    return empty


def probe_window_candidates(
    index: DataFrame, batch_docs: DataFrame, hint_broadcast: bool = True
) -> DataFrame:
    """The probe's candidate stage — batch windows bucketed and joined
    (hb, h) against the index, directional (id1 = batch doc, id2 =
    indexed doc), self-matches excluded. ONE copy shared by
    `probe_window_index` and the scale gate's measure (self-review r15:
    a hand-copied join body in the measure would silently diverge from
    the production subplan it claims to pin)."""
    bw = _with_bucket(exact_substring_windows(batch_docs))
    b = F.broadcast(bw) if hint_broadcast else bw
    return (
        index.alias("i")
        .join(b.alias("b"), ["hb", "h"])
        .filter(F.col("i.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("b.doc_id").alias("id1"),
            F.col("i.doc_id").alias("id2"),
            F.col("b.pos").alias("pos1"),
            F.col("i.pos").alias("pos2"),
        )
    )


def probe_window_index(
    index: DataFrame, batch_docs: DataFrame, hint_broadcast: bool = True
) -> DataFrame:
    """Maximal shared spans between a NEW batch and the INDEXED corpus:
    batch windows (map-only) equi-joined on (hb, h) against the
    bucket-partitioned index — with the batch side broadcast, the join
    plants a dynamic-partition-pruning subquery on ``hb`` and the index
    scan reads only the batch's buckets, never the corpus (plan-pinned
    in tests/test_plans.py). Candidates feed the same
    `merge_collision_spans` as the corpus self-join. Output rows are
    DIRECTIONAL: id1 = the batch doc, id2 = the indexed doc
    (self-matches excluded, so a probe replay after an append finds
    peers, not the doc's own indexed copy).

    ``hint_broadcast=False`` for an unbounded ad-hoc batch: the join
    falls back to shuffle (both sides exchange on the hash — no
    pruning, but no driver-OOM trap), the `enriched_stream` dial."""
    return merge_collision_spans(
        probe_window_candidates(index, batch_docs, hint_broadcast)
    )


def maintain_window_index(spark: SparkSession, path: str) -> dict:
    """The ONE offline-maintenance entrypoint for an append-grown
    window index (parity with `maintain_minhash_index` /
    `similarity.maintain_ivf_index`): a single atomic tree rewrite that

    1. drops exact duplicate window rows — a replayed
       `append_to_window_index` writes a doc's windows twice;
       correctness-neutral for span merging (`merge_collision_spans`
       is dense_rank-immune by design) but wasted scan bytes forever;
    2. RE-APPLIES the build-time frequency valve over the grown corpus
       — appends bypass it by design (a corpus-wide count per
       micro-batch would defeat the O(batch) append), so boilerplate
       arriving incrementally drifts past `_XSUB_MAX_FREQ` until this
       runs. The valve's global semantics parallelize per partition
       for free: ``hb = pmod(h, B)`` confines every occurrence of a
       window hash to ONE bucket directory;
    3. repacks the per-append small files under the same ``hb=``
       layout, so the probe's DPP pruning is untouched.

    The tree is replaced by the one rewrite-in-place protocol
    (`tables._swap_paths` heals, `tables._commit_swap` promotes).
    Offline window discipline: the rewrite snapshots the live file set
    and REFUSES — restore-and-abort, never silent row loss — if an
    append lands between snapshot and swap (`_commit_swap(verify_old=)`
    re-checks the FROZEN set-aside tree). Returns ``{"rows_before",
    "rows_after", "dropped_duplicates", "valved_out"}``."""
    from ..tables import _commit_swap, _data_files, _swap_paths

    jvm = spark._jvm
    fs, hpath, tmp, old, _ = _swap_paths(spark, path)
    idx = spark.read.parquet(path).select("doc_id", "pos", "h")
    rootlen0 = len(hpath.toUri().getPath()) + 1
    snapshot = {
        jvm.org.apache.hadoop.fs.Path(u).toUri().getPath()[rootlen0:]
        for u in idx.inputFiles()
    }
    rows_before = idx.count()
    deduped = idx.dropDuplicates(["doc_id", "pos", "h"]).localCheckpoint(
        eager=True
    )
    n_dedup = deduped.count()
    freq = F.count(F.lit(1)).over(W.partitionBy("h"))
    valved = (
        deduped.withColumn("_c", freq)
        .filter(F.col("_c") <= _XSUB_MAX_FREQ)
        .drop("_c")
    )
    _with_bucket(valved).write.mode("overwrite").partitionBy("hb").parquet(
        str(tmp)
    )
    rows_after = spark.read.parquet(str(tmp)).count()

    def _verify_frozen(old_path):
        appended = _data_files(fs, old_path) - snapshot
        if appended:
            raise RuntimeError(
                f"window-index maintenance aborted: {len(appended)} data "
                f"file(s) were appended to {path} during the rewrite — "
                "swapping would silently drop those rows; stop admissions "
                "(offline maintenance window) and re-run"
            )

    _commit_swap(fs, hpath, tmp, old, path, verify_old=_verify_frozen)
    return {
        "rows_before": rows_before,
        "rows_after": rows_after,
        "dropped_duplicates": rows_before - n_dedup,
        "valved_out": n_dedup - rows_after,
    }


# (applicationId, sf_dir) -> window index path; built once per
# session/corpus like minhash_index_for, so repeated probes measure the
# PROBE, not an index rebuild.
_WINDOW_INDEX_CACHE: dict[tuple[str, str], str] = {}


def window_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Path of the persisted corpus window index (docs with doc_id %
    _PROBE_BATCH_MOD != 0), building it on first use per session."""
    from ..tables import warehouse_scratch_path

    key = (spark.sparkContext.applicationId, sf_dir)
    path = _WINDOW_INDEX_CACHE.get(key)
    if path is None:
        path = warehouse_scratch_path(spark, "window_index", sf_dir, per_app=True)
        t = load_tables(spark, sf_dir, "documents")
        corpus = t.documents.filter(F.col("doc_id") % _PROBE_BATCH_MOD != 0)
        build_window_index(corpus, path)
        _WINDOW_INDEX_CACHE[key] = path
    return path


def _xsub_probe_oracle() -> str:
    k, cap, mod = _XSUB_WINDOW, _XSUB_MAX_FREQ, _PROBE_BATCH_MOD
    return f"""
WITH docs AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
    FROM documents
),
win AS (
    SELECT doc_id, pos,
           CAST(concat('0x', substr(md5(array_to_string(list_slice(toks, pos, pos + {k - 1}), ' ')), 1, 15)) AS BIGINT) AS h
    FROM docs, unnest(generate_series(1, len(toks) - {k - 1})) AS g(pos)
    WHERE len(toks) >= {k}
),
idx AS (
    SELECT * FROM win WHERE doc_id % {mod} != 0
    QUALIFY count(*) OVER (PARTITION BY h) <= {cap}
),
bw AS (SELECT * FROM win WHERE doc_id % {mod} = 0),
cand AS (
    SELECT b.doc_id AS id1, i.doc_id AS id2, b.pos AS pos1, i.pos AS pos2
    FROM bw b JOIN idx i USING (h)
    WHERE i.doc_id <> b.doc_id
),
runs AS (
    SELECT id1, id2, pos1, pos2, pos1 - pos2 AS diag,
           pos1 - DENSE_RANK() OVER (PARTITION BY id1, id2, pos1 - pos2 ORDER BY pos1) AS island
    FROM cand
)
SELECT id1, id2,
       CAST(MIN(pos1) AS BIGINT) AS start1,
       CAST(MIN(pos2) AS BIGINT) AS start2,
       CAST(MAX(pos1) - MIN(pos1) + {k} AS BIGINT) AS span_len
FROM runs GROUP BY id1, id2, diag, island
"""


@query(
    "dedup_incremental_spans",
    tables=("documents",),
    oracle=_xsub_probe_oracle(),
)
def dedup_incremental_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ExactSubstr admission — the span-level member of the
    incremental-index family (`dedup_incremental_probe` opened it for
    MinHash, `sim_incremental_probe` for embeddings; this closes it for
    exact substrings): probe a NEW batch of documents against the
    PERSISTED corpus window index and report every maximal >= K-token
    passage a batch doc shares verbatim with an indexed doc. Production
    pipelines never re-window the corpus per arriving batch; they keep
    the window table bucket-partitioned and answer "does anything we
    already hold contain these passages?" with a pruned bucket join.

    Derivation (both sides SQL-replayed end to end): corpus = doc_id %
    10 != 0, windowed + frequency-valved once per session
    (`window_index_for`); batch = doc_id % 10 == 0, windowed at probe
    time; spans via the shared `merge_collision_spans`. The probe's
    index scan is DPP-pruned to the batch's hash buckets (plan-pinned);
    an admitted batch appends its windows under the same bucket layout
    (`append_to_window_index`, round-trip pytest: the very next probe
    finds spans against appended docs)."""
    from ..functions.udfs import spread_for_python

    t = load_tables(spark, sf_dir, "documents")
    index = spark.read.parquet(window_index_for(spark, sf_dir))
    # Spread the batch before windowing (r20): the broadcast build of
    # the batch's window table runs the K-fold md5 pass in the scan's
    # partitioning — ONE task on the single-file fixture scan; the
    # conditional spread fans it out and a production-wide batch flows
    # through untouched.
    batch = spread_for_python(
        t.documents.filter(F.col("doc_id") % _PROBE_BATCH_MOD == 0).select(
            "doc_id", "text"
        )
    )
    return probe_window_index(index, batch)


def _xsub_oracle() -> str:
    k, cap = _XSUB_WINDOW, _XSUB_MAX_FREQ
    return f"""
WITH docs AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
    FROM documents
),
win AS (
    SELECT doc_id, pos,
           CAST(concat('0x', substr(md5(array_to_string(list_slice(toks, pos, pos + {k - 1}), ' ')), 1, 15)) AS BIGINT) AS h
    FROM docs, unnest(generate_series(1, len(toks) - {k - 1})) AS g(pos)
    WHERE len(toks) >= {k}
),
surv AS (
    SELECT * FROM win QUALIFY count(*) OVER (PARTITION BY h) <= {cap}
),
cand AS (
    SELECT a.doc_id AS id1, b.doc_id AS id2, a.pos AS pos1, b.pos AS pos2
    FROM surv a JOIN surv b USING (h)
    WHERE a.doc_id < b.doc_id
),
runs AS (
    SELECT id1, id2, pos1, pos2, pos1 - pos2 AS diag,
           pos1 - DENSE_RANK() OVER (PARTITION BY id1, id2, pos1 - pos2 ORDER BY pos1) AS island
    FROM cand
)
SELECT id1, id2,
       CAST(MIN(pos1) AS BIGINT) AS start1,
       CAST(MIN(pos2) AS BIGINT) AS start2,
       CAST(MAX(pos1) - MIN(pos1) + {k} AS BIGINT) AS span_len
FROM runs GROUP BY id1, id2, diag, island
"""


@query("dedup_exact_substring_spans", tables=("documents",), oracle=_xsub_oracle())
def dedup_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level EXACT-substring dedup, ORACLE-CHECKED end to end: find
    every maximal >= K-token passage shared verbatim between two
    documents and report it as (id1, id2, start1, start2, span_len) —
    token-granular, 1-based, over whitespace-filtered lowercase tokens.
    Removal is the downstream consumer's choice (cut the span from the
    higher-id doc, drop the doc, or weight it), exactly as in
    suffix-array ExactSubstr pipelines; this operator's contract is the
    span REPORT.

    Pipeline: K-token sliding windows hashed portably
    (`exact_substring_windows`, map-only) -> corpus-wide frequency
    valve in [2, CAP] (`exact_substring_survivors`, the ONE exchange on
    h; the >= 2 side discards all non-colliding windows before any join)
    -> window-hash equi-join, cross-doc pairs only -> diagonal islands
    merge to maximal spans (`exact_substring_spans`). The survivor
    table is localCheckpoint'ed so the self-join's two sides read the
    pinned result instead of re-running tokenize + K-fold md5 twice."""
    from ..functions.udfs import spread_for_python

    t = load_tables(spark, sf_dir, "documents")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # Spread the scan BEFORE windowing (r20): the K-fold md5 window
    # pass — the documented dominant cost — is map-side work that runs
    # in the scan's partitioning, and the single-file fixture scan ran
    # it on ONE core; the h-repartition below only parallelized the
    # stages AFTER the hashes existed. Conditional spread: a
    # production-wide scan flows through with zero added exchange.
    surv = (
        exact_substring_survivors(
            spread_for_python(t.documents.select("doc_id", "text"))
        )
        .repartition(n_part, "h")
        .localCheckpoint(eager=True)
    )
    return exact_substring_spans(surv)


def _intradoc_oracle() -> str:
    k, cap, echo = _XSUB_WINDOW, _XSUB_MAX_FREQ, _INTRADOC_ECHO
    return f"""
WITH raw AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks0
    FROM documents
),
docs AS (
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 AND len(toks0) >= {echo}
                THEN list_concat(toks0, list_slice(toks0, 1, {echo}))
                ELSE toks0 END AS toks
    FROM raw
),
win AS (
    SELECT doc_id, pos,
           CAST(concat('0x', substr(md5(array_to_string(list_slice(toks, pos, pos + {k - 1}), ' ')), 1, 15)) AS BIGINT) AS h
    FROM docs, unnest(generate_series(1, len(toks) - {k - 1})) AS g(pos)
    WHERE len(toks) >= {k}
),
surv AS (
    SELECT * FROM win
    QUALIFY count(*) OVER (PARTITION BY doc_id, h) BETWEEN 2 AND {cap}
),
cand AS (
    SELECT a.doc_id, a.pos AS pos1, b.pos AS pos2
    FROM surv a JOIN surv b ON a.doc_id = b.doc_id AND a.h = b.h
    WHERE a.pos < b.pos
),
runs AS (
    SELECT doc_id, pos1, pos2, pos1 - pos2 AS diag,
           pos1 - DENSE_RANK() OVER (PARTITION BY doc_id, pos1 - pos2 ORDER BY pos1) AS island
    FROM cand
)
SELECT doc_id,
       CAST(MIN(pos1) AS BIGINT) AS start1,
       CAST(MIN(pos2) AS BIGINT) AS start2,
       CAST(MAX(pos1) - MIN(pos1) + {k} AS BIGINT) AS span_len
FROM runs GROUP BY doc_id, diag, island
"""


_INTRADOC_ECHO = 30  # tokens echoed to plant the template-repeat shape


def _intradoc_echo_docs(documents: DataFrame) -> DataFrame:
    """Deterministic derivation planting realistic SELF-repetition: for
    doc_id % 7 == 0 (with >= _INTRADOC_ECHO tokens), the document's
    first _INTRADOC_ECHO tokens are appended at its end — the
    template-at-top-and-bottom shape (nav headers, boilerplate
    footers, generation loops) this operator exists to locate. The
    driver fixtures contain no natural >= K-token self-repetition, so
    without the derivation the entry would be VACUOUSLY green (the
    tests' EMPTY_OK gate exists to refuse exactly that); the echo is
    built token-identically in the oracle, the same derived-input
    discipline as the ingest entries' derived CSVs. Docs untouched by
    the echo still flow through the full chain and must report
    NOTHING — absence is half the checked contract."""
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    echoed = F.concat(
        F.col("text"),
        F.lit(" "),
        F.array_join(F.slice(toks, 1, _INTRADOC_ECHO), " "),
    )
    cond = (F.col("doc_id") % 7 == 0) & (F.size(toks) >= _INTRADOC_ECHO)
    return documents.withColumn(
        "text", F.when(cond, echoed).otherwise(F.col("text"))
    )


@query("dedup_intradoc_spans", tables=("documents",), oracle=_intradoc_oracle())
def dedup_intradoc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repeated-span report: every maximal >= K-token
    passage a document repeats VERBATIM inside itself, as (doc_id,
    start1, start2, span_len) with start1 < start2 (token-granular,
    1-based, same normalized token coordinates as
    `dedup_exact_substring_spans`). This locates what
    `text_repetition_ratio` only measures — the within-page template
    headers, duplicated paragraphs, and generation loops that
    repetition-ratio filters score but cannot excise; a span report
    makes surgical removal (the `strip_shared_spans` pattern) possible
    instead of dropping the whole document. Input is the
    `_intradoc_echo_docs` derivation (the fixtures carry no natural
    self-repetition — see its docstring for the vacuity argument).

    Pipeline: the same map-only window pass, a PER-DOC frequency
    valve (`intradoc_survivors` — corpus boilerplate is irrelevant to
    self-repetition, and the per-doc cap bounds the quadratic a
    phrase-spamming doc would otherwise produce), a (doc_id, h)
    self-join (`intradoc_candidates` — every candidate is doc-LOCAL,
    so the stage is embarrassingly parallel per document with zero
    cross-doc movement), and the SHARED `merge_collision_spans`
    diagonal-islands merge (id1 = id2 = doc_id makes it apply
    verbatim). Self-overlapping periodicity is handled by the math: a
    period-p repetition surfaces as one maximal span per lag, the
    standard repeated-substring decomposition.

    Scale: candidates <= CAP x |doc windows| per document,
    independent across documents; both exchanges key on doc-local
    columns ((doc_id, h) then (doc, diag)), so a doc-partitioned
    corpus runs the whole chain map-side."""
    t = load_tables(spark, sf_dir, "documents")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # r21 (the r20-deferred spread, landed): the echo derivation +
    # K-fold md5 window pass ran in the scan's single fixture
    # partition — the `dedup_exact_substring_spans` spread fix applies
    # verbatim. Conditional fan-out; map-only derivation + per-doc
    # window valve are partitioning-independent, values identical.
    from ..functions.udfs import spread_for_python

    surv = (
        intradoc_survivors(
            _intradoc_echo_docs(
                spread_for_python(t.documents.select("doc_id", "text"))
            )
        )
        .repartition(n_part, "doc_id", "h")
        .localCheckpoint(eager=True)
    )
    return (
        merge_collision_spans(intradoc_candidates(surv))
        .select(
            F.col("id1").alias("doc_id"),
            "start1",
            "start2",
            "span_len",
        )
    )

#!/usr/bin/env python
"""Scale-growth proof for the long-pole operator families (VERDICT r5
item 4, extended r7 item 3, r8, and r11): dedup_minhash_lsh, the ANN
probes (sim_ann_lsh_topk / sim_ann_ivf_fixed_topk), the quantized
serving path (sim_ann_ivf_q8_serve), simhash band collisions
(width-scaled), decon_train_test_overlap, the prefix-filtered
containment join (candidate growth), the ITERATIVE families (VERDICT
r7 item 5): PageRank wall/edge growth over a k-replicated trade graph
and large-star/small-star connected components, whose rounds must grow
O(log n), never O(n) — plus the r11 families with DIFFERENT scaling
axes:

- incremental near-dup probe (`dedup_incremental_probe`): the CORPUS
  INDEX stays fixed while the arriving BATCH scales x1/x2/x10
  (replicas are unperturbed id-offset copies, i.e. true near-dups of
  the base batch) — candidates and matches must grow linearly in
  batch size, proving no batch-side quadratic and no corpus rescan;
- incremental ANN probe (`sim_incremental_probe`): same batch-scaled
  axis against the FIXED cell-partitioned IVF index — candidates and
  dup-admitted queries linear in batch size;
- index-scaled probes (`ix_*`, late r11): the reverse axis — a FIXED
  base batch against x1/x2/x10 corpus indexes. MinHash candidates
  must stay ~flat (shingle-disjoint replicas can only add candidates
  via bucket degeneration); IVF candidates grow ~linearly (probed-cell
  occupancy), dup admissions ~flat; never batch x corpus;
- partition-scoped MERGE (`merge_into_partitioned`): a FIXED change
  batch lands on x1/x2/x10 base tables whose replicas occupy DISJOINT
  month partitions — partitions_rewritten and row counters must be
  EXACTLY equal across scales (cost ∝ touched partitions, not table
  size); wall is recorded for the ~flat read;
- the COMPOSED curation pipeline (`pipe_*`, r12): quality -> PII
  redact -> incremental probe -> shard/pack manifest as ONE job over
  the batch-scaled axis (fixed index) — every stage cardinality
  linear in batch size, measured by the pipeline's own observe nodes;
- IVF index occupancy (`ix_ann_max_cell_share`, r12): the built
  index's largest cell share, gated at the ABSOLUTE
  similarity.IVF_MAX_CELL_SHARE bound at every scale.

The risk being measured: each of these builds a CANDIDATE SET via
bucketing (LSH bands, hash tables, IVF cells, shingle equi-join). The
docstrings claim the candidate set grows ~linearly with the corpus —
bucketed, never all-pairs — but that claim is exactly the thing a
fixture change could silently break (a degenerate bucket goes
quadratic). So: replicate the sf0.1 corpus x2 and x10 with
PERTURBED replicas, measure wall time AND candidate-set cardinality at
each scale, and assert the growth exponent stays near 1.

Perturbation design (replication must not manufacture duplicates):

- documents: every token in replica i>0 gets an `x{i}` suffix
  (regexp_replace, a bijection on the token space). Token counts and
  intra-replica Jaccard structure are preserved exactly, but replicas
  share ZERO shingles with the base corpus — so true near-dup pairs
  scale linearly by construction, and any super-linear candidate
  growth is the operator's fault, which is the point.
- embeddings: replica i>0 circularly rotates each vector by i slots
  (norm-preserving; rotations of i.i.d.-component vectors are
  near-orthogonal to their base). Only replica 0 keeps vec_id <
  N_QUERIES, so the ANN query set stays fixed while the corpus grows —
  the serving-scale shape.

The x10 corpus (50k docs / 20k vectors) is the documents/embeddings
row count of the sf1.0 class (6M-row lineitem). Scaled parquet lives
under .scaledata/ (gitignored); the committed artifact is
BENCH_sf1.json. Run: `python tools/scale_bench.py` from the repo root
(~5-8 min on local[32]).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from nytimes_batch_processor_spark.catalog import all_specs
from nytimes_batch_processor_spark.session import get_spark

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALE_ROOT = os.path.join(REPO, ".scaledata")
SCALES = (1, 2, 10)
_ID_STRIDE = 10_000_000  # replica id offset: keeps ids disjoint


def build_scale(spark, k: int) -> str:
    if k == 1:
        return BASE
    out = os.path.join(SCALE_ROOT, f"x{k}")
    done = os.path.join(out, "_OK")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    dim = 64
    doc_reps, emb_reps = [], []
    for i in range(k):
        if i == 0:
            doc_reps.append(docs)
            emb_reps.append(emb)
            continue
        doc_reps.append(
            docs.select(
                (F.col("doc_id") + F.lit(i * _ID_STRIDE)).alias("doc_id"),
                # token-bijective perturbation: zero shingle overlap
                # with other replicas, intra-replica structure intact
                F.regexp_replace("text", r"(\S+)", f"$1x{i}").alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
        shift = (i % (dim - 1)) + 1
        emb_reps.append(
            emb.select(
                (F.col("vec_id") + F.lit(i * _ID_STRIDE)).alias("vec_id"),
                F.concat(
                    F.slice("embedding", shift + 1, dim - shift),
                    F.slice("embedding", 1, shift),
                ).alias("embedding"),
                "label",
            )
        )
    d = doc_reps[0]
    for r in doc_reps[1:]:
        d = d.unionByName(r)
    e = emb_reps[0]
    for r in emb_reps[1:]:
        e = e.unionByName(r)
    d.write.mode("overwrite").parquet(f"{out}/documents.parquet")
    e.write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    open(done, "w").write("ok\n")
    return out


def timed(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args)
    return round(time.perf_counter() - t0, 3)


def ann_lsh_candidates(spark, sf_dir: str) -> int:
    """Candidate-set cardinality of sim_ann_lsh_topk: the distinct
    (query, vector) pairs surviving the bucket equi-join — the exact
    `cand` subplan of operators/similarity.py::sim_ann_lsh_topk."""
    from nytimes_batch_processor_spark.operators.similarity import (
        _PROBE_MASKS,
        N_QUERIES,
        _as_double,
        hyperplane_signatures_all,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v_sig = emb.select(
        "vec_id",
        F.posexplode(
            hyperplane_signatures_all(_as_double(F.col("embedding")), 64)
        ).alias("tbl", "sig"),
    ).localCheckpoint(eager=True)
    probes = (
        v_sig.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            "tbl",
            F.explode(F.array(*[F.lit(m) for m in _PROBE_MASKS])).alias("mask"),
            F.col("sig").alias("qsig"),
        )
        .select("query_id", "tbl", F.col("qsig").bitwiseXOR(F.col("mask")).alias("sig"))
    )
    return (
        v_sig.join(F.broadcast(probes), ["tbl", "sig"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .dropDuplicates(["query_id", "vec_id"])
        .count()
    )


def simhash_collisions(spark, sf_dir: str, band_bits: int) -> int:
    """Raw band-collision count of dedup_simhash's candidate join (the
    pre-Hamming-filter workload), re-banded at `band_bits`. Fixed-width
    banding is inherently quadratic in the RANDOM collision component
    (~ bands * n^2 / 2^band_bits), so the scale policy measured here is
    the one the operator docstring prescribes: widen bands as the
    corpus grows (band_bits ~ 2*log2(n) keeps random collisions flat
    while true near-dups — whose band values match because the CONTENT
    matches — still collide). The gate pins that policy's linearity."""
    from nytimes_batch_processor_spark.operators.dedup import (
        simhash_bands,
        simhash_frame,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    banded = simhash_bands(simhash_frame(docs), band_bits).localCheckpoint(
        eager=True
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .count()
    )


def ivf_candidates(spark, sf_dir: str, drop_zero_vectors: bool = False) -> int:
    """Candidate cardinality of the fixed-IVF probe: corpus rows in the
    nprobe cells of each query (pre-rerank join output). With
    `drop_zero_vectors` the corpus definition is the q8 serving path's
    (all-zero vectors are unquantizable and filtered there) — ONE
    parameterized body for both measurements (r8 review: two verbatim
    copies would let a future probe change desynchronize the x1
    equality assert from the real workload)."""
    from nytimes_batch_processor_spark.operators.similarity import (
        _IVF_FIXED_NPROBE,
        N_QUERIES,
        _as_double,
        _centroid_sq_dists,
        ivf_fixed_centers,
    )

    centers = ivf_fixed_centers()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", _as_double(F.col("embedding")).alias("e")
    )
    if drop_zero_vectors:
        emb = emb.withColumn(
            "max_abs", F.array_max(F.transform(F.col("e"), lambda x: F.abs(x)))
        ).filter(F.col("max_abs") > 0)
    dists = _centroid_sq_dists(centers)
    assigned = (
        emb.withColumn("_d", dists)
        .withColumn("cell", (F.array_position("_d", F.array_min("_d")) - 1).cast("int"))
        .select("vec_id", "cell")
    )
    ranked_cells = F.transform(
        F.array_sort(
            F.zip_with(
                dists,
                F.sequence(F.lit(0), F.lit(len(centers) - 1)),
                lambda d, i: F.struct(d.alias("d"), i.alias("i")),
            )
        ),
        lambda s: s.getField("i"),
    )
    probes = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.explode(F.slice(ranked_cells, 1, _IVF_FIXED_NPROBE)).alias("cell"),
    )
    return (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .count()
    )


def _probe_batch(spark, k: int):
    """k replicas of the BASE probe batch (doc_id % mod == 0), ids
    offset per replica, TEXT UNCHANGED — every replica doc is a true
    near-dup of its base twin, so probe candidates/matches must grow
    exactly linearly in batch size while the corpus index stays fixed.
    (Perturbed replicas would share zero shingles with the corpus and
    measure nothing: a flat zero passes any gate.)"""
    from nytimes_batch_processor_spark.operators.dedup import _PROBE_BATCH_MOD

    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    batch = docs.filter(F.col("doc_id") % _PROBE_BATCH_MOD == 0)
    reps = [batch]
    for i in range(1, k):
        reps.append(
            batch.select(
                (F.col("doc_id") + F.lit(i * _ID_STRIDE)).alias("doc_id"),
                "text",
                "lang",
                "source",
                "n_chars",
            )
        )
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    return out


def probe_scale_measure(spark, k: int, index_path: str) -> dict:
    """Incremental-probe family: candidates/matches/wall of probing a
    x`k` batch against the FIXED corpus index — the exact
    probe_candidate_pairs / probe_minhash_index subplans of
    operators/dedup.py::dedup_incremental_probe."""
    from nytimes_batch_processor_spark.operators.dedup import (
        _band_hash_cols,
        minhash_signatures,
        probe_candidate_pairs,
        probe_minhash_index,
    )

    index = spark.read.parquet(index_path)
    batch_sigs = (
        minhash_signatures(_probe_batch(spark, k), "doc_id", "text")
        .select("doc_id", "sig", *_band_hash_cols())
        .localCheckpoint(eager=True)
    )
    # time ONE probe only — counting the candidate subplan separately
    # inside the window would re-run the candidate join and record ~2x
    # a real probe's wall (self-review r11)
    t0 = time.perf_counter()
    n_matches = probe_minhash_index(index, batch_sigs).count()
    wall = round(time.perf_counter() - t0, 3)
    n_cand = probe_candidate_pairs(index, batch_sigs).count()
    return {
        "probe_candidates": n_cand,
        "probe_matches": n_matches,
        "probe_wall_sec": wall,
    }


def pipeline_scale_measure(spark, k: int, index_path: str) -> dict:
    """End-to-end COMPOSED-pipeline family (VERDICT r11 item 4;
    admission semantics r14): the full steady-state curation chain —
    quality -> PII redact -> near-dup ADMISSION (index probe +
    within-batch self-probe + index growth) -> per-shard pack/manifest
    — run as ONE job over a x`k` arriving batch against a per-scale
    CLONE of the fixed corpus index
    (`operators.text.curate_admission_pipeline`, the exact composition,
    not a re-implementation; the clone isolates the growth so x2/x10
    never probe x1's admissions). Expected shape under the r14
    semantics: batch and quality cardinalities grow linearly, but the
    ADMITTED set is EXACTLY the base scale's at every k — every replica
    doc is a true near-dup of its base twin (text unchanged, larger
    id), so the within-batch self-probe must reject all k-1 copies and
    canonicalize to the base id. Equality, not a ratio bound: one
    admitted replica means the self-probe broke. Stage counts come
    from the pipeline's own observe nodes — measured DURING the timed
    pass, never a second run. The timed wall includes the admission
    writes (sink-less here) and index append; the clone is outside."""
    from nytimes_batch_processor_spark.operators.text import (
        curate_admission_pipeline,
    )
    from nytimes_batch_processor_spark.tables import clone_parquet_dir

    batch = _probe_batch(spark, k).localCheckpoint(eager=True)
    n_batch = batch.count()
    idx = clone_parquet_dir(index_path)
    metrics: dict = {}
    t0 = time.perf_counter()
    manifest = curate_admission_pipeline(spark, idx, batch, metrics_out=metrics)
    manifest.write.format("noop").mode("overwrite").save()
    wall = round(time.perf_counter() - t0, 3)
    obs = metrics["observations"]
    q, a, m = obs["quality"].get, obs["admitted"].get, obs["manifest"].get
    return {
        "pipe_batch_docs": n_batch,
        "pipe_quality_docs": int(q["n"]),
        "pipe_admitted_docs": int(a["n"]),
        "pipe_manifest_rows": int(m["n"]),
        "pipe_tokens": int(m["tokens"]),
        "pipe_max_bin": int(m["max_bin"]),
        "pipe_wall_sec": wall,
    }


def adm_sink_scale_measure(spark, k: int, index_path: str) -> dict:
    """Admission SINK-SIZE family (VERDICT r12 item 4 / r13 item 5):
    hold the batch AND the index fixed while the admitted sink grows
    x1/x2/x10, and measure one `admit_minhash_batch` micro-batch with a
    ``batch_id`` (the foreachBatch path). Since r14 the sink step is an
    O(1) batch-partition write (`ingest.admit_sink_upsert`): per-batch
    sink cost is one directory listing, so the admission wall must stay
    FLAT as the sink grows — the pre-r14 row-level anti-join re-scanned
    the whole sink every micro-batch and would grow linearly here.
    The prebuilt sink holds k*4 committed batch partitions of base-
    batch-sized filler; each timed run uses a fresh unused batch_id
    (a reused id would take the committed-skip fast path and measure
    nothing)."""
    from nytimes_batch_processor_spark.operators.dedup import (
        admit_minhash_batch,
    )
    from nytimes_batch_processor_spark.tables import clone_parquet_dir

    sink = os.path.join(SCALE_ROOT, f"adm_sink_x{k}")
    base_batch = _probe_batch(spark, 1).localCheckpoint(eager=True)
    if not os.path.exists(os.path.join(sink, "_FILLED")):
        for b in range(4 * k):
            base_batch.select(
                (F.col("doc_id") + F.lit((b + 1) * _ID_STRIDE)).alias("doc_id"),
                "text",
            ).write.mode("overwrite").parquet(
                os.path.join(sink, f"batch_id={b}")
            )
        open(os.path.join(sink, "_FILLED"), "w").close()
    n_sink_rows = spark.read.parquet(sink).count()
    idx = clone_parquet_dir(index_path)
    # fresh batch_ids past anything already in the persisted sink, and
    # the timed partitions removed afterwards (self-review r14: a
    # hardcoded id against the .scaledata-persisted sink would take
    # the committed-skip fast path on every run after the first —
    # the exact measure-nothing trap the docstring warns about — and
    # leaked timed rows would inflate the next run's n_sink_rows)
    import shutil

    next_id = 1 + max(
        (int(d.split("=", 1)[1]) for d in os.listdir(sink) if d.startswith("batch_id=")),
        default=0,
    )
    walls = []
    for run in range(2):
        t0 = time.perf_counter()
        admit_minhash_batch(
            spark, idx, base_batch, sink, batch_id=next_id + run
        )
        walls.append(round(time.perf_counter() - t0, 3))
    for run in range(2):
        shutil.rmtree(os.path.join(sink, f"batch_id={next_id + run}"), ignore_errors=True)
    return {
        "adm_sink_rows": n_sink_rows,
        "adm_sink_wall_sec": min(walls),
    }


def _ann_probe_batch(spark, k: int):
    """k replicas of the BASE embedding batch (vec_id % mod == 0), ids
    offset per replica, VECTORS UNCHANGED — every replica vector is a
    true near-dup (cosine 1.0) of its base twin, so probe candidates
    and dup admissions must grow exactly linearly in batch size while
    the corpus index stays fixed (the _probe_batch design; _ID_STRIDE
    is a multiple of the mod, so the batch residue class survives the
    offset)."""
    from nytimes_batch_processor_spark.operators.similarity import (
        _SIM_PROBE_MOD,
        _as_double,
        _norm,
    )

    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    batch = emb.filter(F.col("vec_id") % _SIM_PROBE_MOD == 0)
    reps = [batch]
    for i in range(1, k):
        reps.append(
            batch.select(
                (F.col("vec_id") + F.lit(i * _ID_STRIDE)).alias("vec_id"),
                "embedding",
                "label",
            )
        )
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    return out.select(
        "vec_id", _as_double(F.col("embedding")).alias("e")
    ).withColumn("nrm", _norm(F.col("e")))


def ann_probe_scale_measure(spark, k: int, index_path: str) -> dict:
    """Incremental-ANN-probe family (r11): candidates / dup-admitted
    queries / wall of probing a x`k` embedding batch against the FIXED
    cell-partitioned IVF index — the exact probe_ivf_index subplan of
    operators/similarity.py::sim_incremental_probe."""
    from nytimes_batch_processor_spark.operators.similarity import (
        _IVF_FIXED_NPROBE,
        _SIM_PROBE_DUP_COS,
        load_ivf_centers,
        probe_ivf_index,
    )

    index = spark.read.parquet(index_path)
    # the index's OWN quantizer (the admit_ivf_batch rule): since r14
    # the maintenance entrypoint may have REBUILT this index with
    # trained centroids, and probing a trained index with the fixed
    # centers silently hits the wrong cells (self-review r14); with no
    # sidecar this IS ivf_fixed_centers, the entry's own path
    centers = load_ivf_centers(spark, index_path)
    batch = _ann_probe_batch(spark, k).localCheckpoint(eager=True)
    n_batch = batch.count()  # known batch size -> honest broadcast bound
    # time ONE probe only (the self-review r11 rule), and time the
    # dup-query count — its cos_raw filter forces the exact-cosine
    # scoring inside the window (a bare count() lets Catalyst prune the
    # cosine projection away, understating probe cost); the raw
    # candidate cardinality re-runs the join OUTSIDE the window.
    t0 = time.perf_counter()
    scored = probe_ivf_index(
        index, batch, n_probe_rows=n_batch * _IVF_FIXED_NPROBE, centers=centers
    )
    n_dup = (
        scored.filter(F.col("cos_raw") >= _SIM_PROBE_DUP_COS)
        .select("qid")
        .distinct()
        .count()
    )
    wall = round(time.perf_counter() - t0, 3)
    n_cand = scored.count()
    return {
        "ann_probe_candidates": n_cand,
        "ann_probe_dup_queries": n_dup,
        "ann_probe_wall_sec": wall,
    }


def index_scaled_probe_measure(
    spark,
    k: int,
    sf_dir: str,
    base_row: dict,
    base_ann_index_path: str,
    base_mh_index_path: str,
) -> dict:
    """The OTHER axis of the incremental-probe story (the batch-scaled
    families hold the index fixed): a FIXED base batch probed against
    an index built from the x`k` corpus. Expected shapes under the
    perturbed replication: MinHash candidates/matches stay ~FLAT (the
    replicas are shingle-disjoint with the base batch by construction,
    so corpus growth may only add candidates through band-bucket
    degeneration — caught by the FLAT_KEYS constant bound); IVF
    candidates grow ~linearly (probed-cell occupancy is ~nprobe/k of
    the corpus — rotated replicas fill cells uniformly but score
    ~orthogonal, so dup admissions stay ~flat, also FLAT_KEYS-gated).
    Neither may ever approach a batch x corpus product.

    The measurement bodies ARE probe_scale_measure /
    ann_probe_scale_measure at batch k=1 against a per-scale index (the
    r8 rule: a re-implemented measurement desynchronizes from the real
    workload), and at k=1 both axes coincide — this row's probe_* /
    ann_probe_* values are the identical measurement, so they alias
    (the q8 assert-then-alias precedent) instead of rebuilding the
    base indexes and re-running the same joins.

    Each scale also runs the ONE offline-maintenance entrypoint
    (`maintain_ivf_index`, r14: compact -> occupancy check -> rebuild
    if it fails) on its index and records the reported OCCUPANCY SKEW
    (`ix_ann_max_cell_share`, the largest IVF cell's row share) —
    gated in compute_gate at the absolute IVF_MAX_CELL_SHARE bound
    (VERDICT r11 item 2: a hot cell degrades the probe's bounded-
    broadcast claim, so the scale proof must show occupancy stays
    bounded as the corpus grows, not just that candidates do). Routing
    the measurement through maintenance means the gate exercises the
    same compact(+rebuild-on-drift) path production runs between probe
    windows — compaction is byte-identical to probes by contract, and
    `ix_ann_maintenance_rebuilt` records whether the repair fired
    (expected False on this fixture: share ~0.07 vs the 0.25 bound)."""
    from nytimes_batch_processor_spark.operators.dedup import (
        maintain_minhash_index,
    )
    from nytimes_batch_processor_spark.operators.similarity import (
        maintain_ivf_index,
    )

    if k == 1:
        maint = maintain_ivf_index(spark, base_ann_index_path)
        # the MinHash twin of the maintenance axis (r15): ONE
        # entrypoint per index type, both exercised per scale; the
        # band-bucket share is gated absolutely like the IVF cell share
        mh_maint = maintain_minhash_index(spark, base_mh_index_path)
        return {
            "ix_probe_candidates": base_row["probe_candidates"],
            "ix_probe_matches": base_row["probe_matches"],
            "ix_probe_wall_sec": base_row["probe_wall_sec"],
            "ix_ann_candidates": base_row["ann_probe_candidates"],
            "ix_ann_dup_queries": base_row["ann_probe_dup_queries"],
            "ix_ann_wall_sec": base_row["ann_probe_wall_sec"],
            "ix_ann_max_cell_share": round(maint["max_cell_share"], 4),
            "ix_ann_maintenance_rebuilt": maint["rebuilt"],
            "ix_mh_max_bucket_share": mh_maint["max_bucket_share"],
        }
    from nytimes_batch_processor_spark.operators.dedup import (
        _PROBE_BATCH_MOD,
        build_minhash_index,
    )
    from nytimes_batch_processor_spark.operators.similarity import (
        _SIM_PROBE_MOD,
        build_ivf_parquet_index,
    )

    mh_path = os.path.join(SCALE_ROOT, f"probe_index_x{k}")
    build_minhash_index(
        spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
            F.col("doc_id") % _PROBE_BATCH_MOD != 0
        ),
        mh_path,
    )
    mh_maint = maintain_minhash_index(spark, mh_path)
    mh = probe_scale_measure(spark, 1, mh_path)

    ivf_path = os.path.join(SCALE_ROOT, f"ann_probe_index_x{k}")
    build_ivf_parquet_index(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
            F.col("vec_id") % _SIM_PROBE_MOD != 0
        ),
        ivf_path,
    )
    maint = maintain_ivf_index(spark, ivf_path)
    ann = ann_probe_scale_measure(spark, 1, ivf_path)
    return {
        "ix_probe_candidates": mh["probe_candidates"],
        "ix_probe_matches": mh["probe_matches"],
        "ix_probe_wall_sec": mh["probe_wall_sec"],
        "ix_ann_candidates": ann["ann_probe_candidates"],
        "ix_ann_dup_queries": ann["ann_probe_dup_queries"],
        "ix_ann_wall_sec": ann["ann_probe_wall_sec"],
        "ix_ann_max_cell_share": round(maint["max_cell_share"], 4),
        "ix_ann_maintenance_rebuilt": maint["rebuilt"],
        "ix_mh_max_bucket_share": mh_maint["max_bucket_share"],
    }


def window_probe_scale_measure(spark, k: int, sf_dir: str) -> dict:
    """The index-scaled axis of the ExactSubstr story (r15): the FIXED
    base batch (BASE corpus, doc_id % mod == 0) probed against a window
    index built from the x`k` corpus. Perturbed replicas share no
    windows with the base batch, so collision candidates and merged
    spans must stay FLAT (FLAT_KEYS) — growth means hash pooling. The
    candidate join executes ONCE (pinned, counted, then merged — the
    r15 double-join lesson); the join itself is probe_window_index's
    exact subplan shape (bucketed equi-join, batch side broadcast)."""
    from nytimes_batch_processor_spark.operators.dedup import (
        _PROBE_BATCH_MOD,
        build_window_index,
        maintain_window_index,
        merge_collision_spans,
        probe_window_candidates,
    )

    idx_path = os.path.join(SCALE_ROOT, f"window_index_x{k}")
    build_window_index(
        spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
            F.col("doc_id") % _PROBE_BATCH_MOD != 0
        ),
        idx_path,
    )
    # the ONE maintenance entrypoint runs per scale, like the MinHash
    # and IVF twins — the probe below measures the MAINTAINED index (a
    # fresh build has nothing to dedupe or re-valve, so this also pins
    # maintenance as a no-op on healthy indexes at every scale)
    maint = maintain_window_index(spark, idx_path)
    assert maint["dropped_duplicates"] == 0 and maint["valved_out"] == 0, (
        f"window-index maintenance on a FRESH x{k} build reclaimed rows "
        f"({maint}) — build and maintenance valve semantics diverged"
    )
    batch = spark.read.parquet(f"{BASE}/documents.parquet").filter(
        F.col("doc_id") % _PROBE_BATCH_MOD == 0
    )
    index = spark.read.parquet(idx_path)
    t0 = time.perf_counter()
    # the REAL production candidate subplan (probe_window_candidates —
    # the shared stage probe_window_index composes), pinned once and
    # fed to both counts
    cand = probe_window_candidates(index, batch).localCheckpoint(
        eager=True
    )
    n_cand = cand.count()
    n_spans = merge_collision_spans(cand).count()
    wall = round(time.perf_counter() - t0, 3)
    return {
        "ix_xsub_candidates": n_cand,
        "ix_xsub_spans": n_spans,
        "ix_xsub_wall_sec": wall,
    }


def xsub_scale_measure(spark, sf_dir: str) -> dict:
    """Exact-substring span family (r15): survivor windows (frequency
    valve in [2, CAP]), window-hash collision candidates, and merged
    maximal spans must all grow LINEARLY over the token-perturbed
    replicated corpus — replicas are window-disjoint with each other by
    construction, so each replica reproduces exactly the base corpus's
    internal collisions. Super-linear candidates here mean the
    frequency valve or the 60-bit window hash broke (the banding-
    discipline analogue for the exact-match family: the valve, not a
    width policy, is what bounds the self-join)."""
    from nytimes_batch_processor_spark.operators.dedup import (
        exact_substring_candidates,
        exact_substring_survivors,
        merge_collision_spans,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t0 = time.perf_counter()
    surv = exact_substring_survivors(docs).localCheckpoint(eager=True)
    n_surv = surv.count()
    # ONE executed self-join: candidates pinned, counted, then merged —
    # counting candidates and spans as two separate plans would run the
    # dominant join twice inside the timed window (self-review r15)
    cand = exact_substring_candidates(surv).localCheckpoint(eager=True)
    n_cand = cand.count()
    n_spans = merge_collision_spans(cand).count()
    wall = round(time.perf_counter() - t0, 3)
    return {
        "xsub_surviving_windows": n_surv,
        "xsub_candidates": n_cand,
        "xsub_spans": n_spans,
        "xsub_wall_sec": wall,
    }


def semdedup_scale_measure(spark, sf_dir: str, k: int) -> dict:
    """SemDedup family (r16): the full per-scale embedding corpus under
    the k ∝ N bounded-cell-size policy — 16*k fixed centroids at scale
    x`k` (`ivf_fixed_centers` generates any k deterministically), so
    the mean cell holds ~125 vectors at every scale and the within-
    shared-cell candidate volume (sum over cells of |c|^2, the
    SemDedup cost model) must track ~linear. The CATALOG entry stays
    at k=16 — the size its oracle replays; this family gates the
    production policy its docstring claims. Dup pairs are recorded but
    NOT gated — see the COUNT_KEYS note: at this fixture's 0.35 bar
    the true above-bar pair set grows ~quadratically (chance mass),
    and smaller cells enrich the hit rate per candidate, so yield
    rising super-linearly at LINEAR candidate cost is the operator
    working, not breaking. Counts come from ONE executed candidate
    plan (the xsub one-join rule); the wall covers the whole
    assign -> compare -> verdict chain."""
    from nytimes_batch_processor_spark.operators.similarity import (
        SEMDEDUP_COS,
        _as_double,
        _norm,
        ivf_fixed_centers,
        semdedup_assigned,
        semdedup_candidate_pairs,
    )

    vec = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", _as_double(F.col("embedding")).alias("e"))
        .withColumn("nrm", _norm(F.col("e")))
    )
    centers = ivf_fixed_centers(16 * k, 64)
    t0 = time.perf_counter()
    assigned = semdedup_assigned(vec, centers)
    cand = semdedup_candidate_pairs(assigned).localCheckpoint(eager=True)
    n_cand = cand.count()
    dup = cand.filter(F.col("cos_raw") >= SEMDEDUP_COS).select("id1", "id2")
    n_pairs = dup.distinct().count()
    # verdict stage over the pinned candidates (the groupBy the entry
    # runs), closing the timed chain
    n_drops = dup.select("id2").distinct().count()
    wall = round(time.perf_counter() - t0, 3)

    # Persisted-path axis (r17, VERDICT r16 item 4): the production
    # layout buckets the exploded assignment by cell, so EVERY later
    # compare — new threshold, audit, incremental batch — reuses the
    # write-time shuffle. Two claims, gated as booleans at every scale:
    # (a) the persisted compare's candidate count EQUALS the in-memory
    # path's (same subplan over the same rows — a drift means the
    # bucketed write lost or duplicated assignments), and (b) the pair
    # stage's executed plan contains ZERO Exchange under the no-
    # broadcast regime (the co-location is ON DISK, which is the whole
    # point of the layout; a hot loop that re-shuffles a 100 TB
    # assignment every compare is the scale failure this axis exists
    # to catch). The write wall is recorded, never gated (one-time
    # layout cost, trivially ∝ N).
    from nytimes_batch_processor_spark.operators.similarity import (
        build_semdedup_assignment,
        semdedup_pairs_persisted,
    )

    table = f"semdedup_scale_assign_x{k}"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    t1 = time.perf_counter()
    build_semdedup_assignment(spark, vec, table, centers=centers)
    build_wall = round(time.perf_counter() - t1, 3)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t2 = time.perf_counter()
        ppairs = semdedup_pairs_persisted(spark, table)
        n_pcand = ppairs.count()
        persist_wall = round(time.perf_counter() - t2, 3)
        plan = ppairs._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    return {
        "sem_cells": 16 * k,
        "sem_candidates": n_cand,
        "sem_dup_pairs": n_pairs,
        "sem_drops": n_drops,
        "sem_wall_sec": wall,
        "sem_persist_pairs_equal": n_pcand == n_cand,
        "sem_persist_exchange_free": "Exchange" not in plan,
        "sem_persist_build_wall_sec": build_wall,
        "sem_persist_wall_sec": persist_wall,
    }


QC_SCALE_SAMPLE_CAP = 320  # below every scale's training pool (x1 at
# sf0.01 has 400 non-holdout docs), so the bounded-sample claim is
# exercised — and FLAT-gated — at every base fixture, not just sf0.1


def qc_scale_measure(spark, sf_dir: str, k: int) -> dict:
    """Trained-quality-classifier family (r17, VERDICT r16 item 2):
    the scale claims behind `quality_classifier_surface`.

    - qc_train_sampled (FLAT): training reads a deterministic
      hash-sample bounded by the cap regardless of corpus size — the
      subplan is `qc_training_sample` itself (shared, never copied);
    - qc_scored (COUNT, linear): map-only scoring covers the full
      per-scale corpus — one row out per row in;
    - qc_auc (ABSOLUTE >= floor): the model trained on the per-scale
      sample still separates the per-scale holdout. The degradation
      tokens (zqN) are inserted AFTER replica perturbation, so the
      signal exists identically at every scale — a falling AUC means
      sampling or feature hashing broke, not the fixture;
    - walls recorded (train includes the sampling count + L-BFGS over
      the bounded sample; score is the map-only full-corpus pass).
    """
    from nytimes_batch_processor_spark.operators.quality_model import (
        QC_HOLDOUT_MOD,
        degrade_documents,
        qc_training_sample,
        quality_classifier_score,
        quality_classifier_train,
    )

    labeled = degrade_documents(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    pool = labeled.filter(F.pmod("doc_id", F.lit(QC_HOLDOUT_MOD)) != 0)
    n_sampled = qc_training_sample(pool, QC_SCALE_SAMPLE_CAP).count()
    t0 = time.perf_counter()
    model = quality_classifier_train(pool, sample_cap=QC_SCALE_SAMPLE_CAP)
    train_wall = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    n_scored = quality_classifier_score(model, labeled).count()
    score_wall = round(time.perf_counter() - t0, 3)
    hold = quality_classifier_score(
        model, labeled.filter(F.pmod("doc_id", F.lit(QC_HOLDOUT_MOD)) == 0)
    ).select("doc_id", "label", "p_degraded")
    rows = hold.collect()
    order = sorted(rows, key=lambda r: (r["p_degraded"], r["doc_id"]))
    ranks = {r["doc_id"]: i + 1 for i, r in enumerate(order)}
    npos = sum(1 for r in rows if r["label"] == 1)
    nneg = len(rows) - npos
    rpos = sum(ranks[r["doc_id"]] for r in rows if r["label"] == 1)
    auc = (rpos - npos * (npos + 1) / 2) / max(npos * nneg, 1)
    return {
        "qc_train_sampled": n_sampled,
        "qc_scored": n_scored,
        "qc_auc": round(auc, 4),
        "qc_train_wall_sec": train_wall,
        "qc_score_wall_sec": score_wall,
    }


def bpe_scale_measure(spark, sf_dir: str) -> dict:
    """Tokenizer-aware-packing family (r17, VERDICT r16 item 3): the
    scale claims behind `pack_sequences_bpe` over the full per-scale
    corpus.

    - bpe_tokens (COUNT, linear): total BPE token mass out of the
      Arrow-batched map-only encode — superlinear growth would mean
      the per-batch word memo or the encode itself degenerated;
    - bpe_bins (COUNT, linear): packed bins = ceil(tokens / capacity),
      the two-level packer's output cardinality;
    - bpe_conserved (BOOLEAN): the last document's start_offset plus
      its n_tokens equals the total token mass — the packer's
      conservation invariant, which breaks if the bucket-level or
      in-bucket prefix sums ever drop or double-count a document
      (exactly the failure a bucket-boundary bug produces, invisible
      to a ratio gate);
    - the wall covers encode + pack end to end.
    """
    from nytimes_batch_processor_spark.operators.text import (
        _PACK_CAPACITY,
        bpe_token_counts,
        packed_offsets,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t0 = time.perf_counter()
    counts = bpe_token_counts(docs).localCheckpoint(eager=True)
    packed = packed_offsets(counts)
    agg = packed.agg(
        F.sum("n_tokens").alias("toks"),
        (F.max("bin_id") + 1).alias("bins"),
        F.max(F.col("start_offset") + F.col("n_tokens")).alias("end"),
    ).collect()[0]
    wall = round(time.perf_counter() - t0, 3)
    return {
        "bpe_tokens": int(agg["toks"]),
        "bpe_bins": int(agg["bins"]),
        "bpe_conserved": int(agg["end"]) == int(agg["toks"]),
        "bpe_capacity": _PACK_CAPACITY,
        "bpe_wall_sec": wall,
    }


def bpet_scale_measure(spark, sf_dir: str) -> dict:
    """BPE merge-table TRAINING family (r18, VERDICT r17 item 2): the
    scale claims behind `bpe_train_merges`. Replicas perturb tokens
    (token-bijective `x{i}` suffixes), so the trained TABLE legitimately
    differs across scales — the gated claims are the cost model and the
    determinism contract, not table equality:

    - bpet_vocab (COUNT, linear): word-frequency-table rows — the
      trainer's entire working set after the one corpus pass; replicas
      add disjoint word forms, so super-linear growth means the vocab
      collapse itself broke;
    - bpet_pair_mass (COUNT, linear): iteration-0 weighted adjacent-
      pair mass (the per-iteration aggregation input), ∝ token mass;
    - bpet_merges (FLAT): merges learned — n_merges-bounded at every
      scale (an early loop exit would under-train silently);
    - bpet_deterministic (BOOLEAN): training twice on the same corpus
      yields the identical table — integer counts + total-ordered
      argmax have no right to wobble;
    - bpet_arms_agree (BOOLEAN): the DISTRIBUTED iteration arm
      (driver_vocab_cap=0, 6 merges) matches the driver-side arm's
      prefix at every scale — the two-arm contract exercised on real
      per-scale corpora, not just the hypothesis micro-vocabs;
    - the wall covers vocab pass + full driver-arm training.
    """
    from nytimes_batch_processor_spark.operators.text import (
        bpe_train_merges,
        bpe_vocab_frame,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t0 = time.perf_counter()
    vocab = bpe_vocab_frame(docs).localCheckpoint(eager=True)
    n_vocab = vocab.count()
    pair_mass = vocab.select(
        ((F.size("syms") - 1).cast("long") * F.col("cnt")).alias("pm")
    ).agg(F.sum("pm")).collect()[0][0]
    # ONE corpus pass for all three training calls (r18 self-review)
    full = bpe_train_merges(None, vocab=vocab)
    wall = round(time.perf_counter() - t0, 3)
    again = bpe_train_merges(None, vocab=vocab)
    dist6 = bpe_train_merges(None, n_merges=6, driver_vocab_cap=0, vocab=vocab)
    return {
        "bpet_vocab": n_vocab,
        "bpet_pair_mass": int(pair_mass),
        "bpet_merges": len(full),
        "bpet_deterministic": full == again,
        "bpet_arms_agree": dist6 == full[:6],
        "bpet_wall_sec": wall,
    }


def pplx_scale_measure(spark, sf_dir: str) -> dict:
    """Perplexity-filter family (r18-built alongside the operator; the
    entry registers r19): the scale claims behind
    `text_perplexity_bigram` / the pipeline's LM stage.

    - pplx_vocab (COUNT, linear): reference distinct tokens — replicas
      add token-bijective word forms, so super-linear growth means the
      vocab aggregation broke;
    - pplx_bigram_rows (COUNT, linear): bigram count-table rows (the
      LM's persisted working set, vocab^2-BOUNDED but fixture-sparse);
    - pplx_scored (COUNT, linear): documents receiving an xent;
    - pplx_dropped (recorded, NOT gated): docs above the bar — the
      drop RATE legitimately shifts as replica word forms dilute the
      reference counts (the sem_dup_pairs precedent: gate cost, not
      yield);
    - the wall covers counts + scoring + the drop aggregate.
    """
    from nytimes_batch_processor_spark.operators.text import (
        _PPLX_BAR,
        perplexity_counts,
        perplexity_scores,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t0 = time.perf_counter()
    ref = docs.filter(F.col("doc_id") % 5 != 0)
    bigc, unic, v = perplexity_counts(ref)
    bigc = bigc.localCheckpoint(eager=True)
    n_big = bigc.count()
    n_vocab = v.collect()[0]["v"]
    scores = perplexity_scores(docs, (bigc, unic, v)).localCheckpoint(
        eager=True
    )
    agg = scores.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("xent") > _PPLX_BAR).cast("long")).alias("d"),
    ).collect()[0]
    wall = round(time.perf_counter() - t0, 3)
    return {
        "pplx_vocab": int(n_vocab),
        "pplx_bigram_rows": int(n_big),
        "pplx_scored": int(agg["n"]),
        "pplx_dropped": int(agg["d"] or 0),
        "pplx_wall_sec": wall,
    }


def dspan_scale_measure(spark, sf_dir: str) -> dict:
    """Span-decontamination family (r17, VERDICT r16 item 5): the
    scale claims behind `decon_leak_spans` with BOTH splits growing
    with the corpus (train < 80, test >= 90 of the same hash split the
    entry uses). Replicas are window-disjoint by construction (the
    xsub fixture contract), so leakage is the planted canaries plus
    the base corpus's natural overlap — both ∝ N:

    - dspan_leaked_windows (COUNT, linear): test windows whose hash
      occurs in the train split — the equi-join's output, bounded by
      the test side; superlinear growth means the 60-bit window hash
      started pooling random cross-split collisions;
    - dspan_spans (COUNT, linear): maximal merged spans reported;
    - the wall covers both window passes, the distinct-hash collapse,
      the join, and the span merge.
    """
    from nytimes_batch_processor_spark.operators.text import (
        decon_derived_docs,
        decon_leaked_windows,
    )
    from nytimes_batch_processor_spark.operators.dedup import (
        merge_collision_spans,
    )

    docs = decon_derived_docs(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    train = docs.filter(F.col("bucket") < 80)
    test = docs.filter(F.col("bucket") >= 90)
    t0 = time.perf_counter()
    leaked = decon_leaked_windows(train, test).localCheckpoint(eager=True)
    n_leaked = leaked.count()
    n_spans = merge_collision_spans(
        leaked.select(
            F.col("doc_id").alias("id1"),
            F.col("doc_id").alias("id2"),
            F.col("pos").alias("pos1"),
            F.col("pos").alias("pos2"),
        )
    ).count()
    wall = round(time.perf_counter() - t0, 3)
    return {
        "dspan_leaked_windows": n_leaked,
        "dspan_spans": n_spans,
        "dspan_wall_sec": wall,
    }


def merge_scale_measure(spark, k: int) -> dict:
    """MERGE family (VERDICT r10 item 5): a FIXED change batch (derived
    from replica 0 only) merged into a x`k` base table whose replicas
    occupy DISJOINT month partitions (replica i's years shifted +10*i).
    partitions_rewritten and the row counters must be EXACTLY equal at
    every scale — the merge reads two columns of the untouched bulk
    (the find-affected scan) and rewrites only the touched dirs, so
    cost tracks the change batch, never the table."""
    from nytimes_batch_processor_spark.tables import merge_into_partitioned

    orders = spark.read.parquet(f"{BASE}/orders.parquet")
    base0 = orders.select(
        F.col("o_orderkey").alias("k"),
        F.date_format("o_orderdate", "yyyy-MM").alias("o_month"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    reps = [base0]
    for i in range(1, k):
        shifted_month = F.concat(
            (F.substring("o_month", 1, 4).cast("int") + F.lit(10 * i)).cast("string"),
            F.substring("o_month", 5, 3),
        )
        reps.append(
            base0.select(
                (F.col("k") + F.lit(i * _ID_STRIDE)).alias("k"),
                shifted_month.alias("o_month"),
                "status",
                "price",
            )
        )
    table = reps[0]
    for r in reps[1:]:
        table = table.unionByName(r)
    path = os.path.join(SCALE_ROOT, f"merge_x{k}")
    # fresh table every run: the merge mutates it in place
    table.repartition("o_month").write.mode("overwrite").partitionBy(
        "o_month"
    ).parquet(path)

    in_window = (F.col("k") % 23 == 0) & (F.col("o_month") >= "1998-01") & (
        F.col("o_month") < "1999-01"
    )
    updates = base0.filter(in_window).select(
        "k",
        F.when(F.col("k") % 46 == 0, F.lit("1999-01")).otherwise(F.col("o_month")).alias(
            "o_month"
        ),
        F.lit("U").alias("status"),
        (F.col("price") * 2).alias("price"),
        F.lit("upsert").alias("op"),
    )
    deletes = base0.filter(
        (F.col("k") % 19 == 0)
        & (F.col("k") % 23 != 0)
        & (F.col("o_month") >= "1998-01")
        & (F.col("o_month") < "1999-01")
    ).select(
        "k",
        F.lit(None).cast("string").alias("o_month"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("double").alias("price"),
        F.lit("delete").alias("op"),
    )
    changes = updates.unionByName(deletes).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    stats = merge_into_partitioned(
        spark, path, changes, keys=["k"], partition_col="o_month"
    )
    wall = round(time.perf_counter() - t0, 3)
    return {
        "merge_partitions_rewritten": stats["partitions_rewritten"],
        "merge_partitions_deleted": stats["partitions_deleted"],
        "merge_rows_upserted": stats["rows_upserted"],
        "merge_rows_deleted": stats["rows_deleted"],
        "merge_wall_sec": wall,
    }


def _trade_graph(spark, k: int):
    """k disjoint replicas of the BASE customer<->supplier trade graph
    (the exact edge derivation of graph_pagerank_fixed), node ids offset
    by replica so parity (cust-even / supp-odd) survives."""
    li = spark.read.parquet(f"{BASE}/lineitem.parquet")
    o = spark.read.parquet(f"{BASE}/orders.parquet")
    base_trade = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    reps = [base_trade]
    for i in range(1, k):
        off = 2 * i * _ID_STRIDE
        reps.append(
            base_trade.select(
                (F.col("src") + F.lit(off)).alias("src"),
                (F.col("dst") + F.lit(off)).alias("dst"),
            )
        )
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    return out


# Workload-cardinality keys the linearity gate fires on (wall times are
# recorded for context, never gated — environment noise).
COUNT_KEYS = (
    "minhash_pairs",
    "ann_lsh_candidates",
    "ivf_candidates",
    "q8_candidates",
    "simhash_collisions",
    "decon_shared_shingle_pairs",
    "containment_candidates",
    "containment_pairs",
    "pagerank_edges",
    "pagerank_nodes",
    "cc_input_edges",
    "probe_candidates",
    "probe_matches",
    "ann_probe_candidates",
    "ann_probe_dup_queries",
    "ix_ann_candidates",
    "pipe_batch_docs",
    "pipe_quality_docs",
    "xsub_surviving_windows",
    "xsub_candidates",
    "xsub_spans",
    # r18: BPE trainer — vocab rows and iteration-0 pair mass, both
    # ∝ corpus under the token-bijective replica perturbation
    "bpet_vocab",
    # bpet_pair_mass is gated here but EXPECTED to ride the 2x slack
    # (measured 15.1x at x10, bound 20): replica text LENGTH scales
    # with SF, so weighted pair mass grows superlinearly in SF while
    # staying linear in corpus ROWS — the axis the trainer's cost
    # model owns. A reading near the bound is the fixture, not gate
    # erosion (VERDICT r18 "what's wrong" #1).
    "bpet_pair_mass",
    # r18: perplexity filter — reference vocab, bigram count-table
    # rows, and scored docs, all ∝ corpus. pplx_dropped is RECORDED
    # but deliberately NOT gated (absent from every gate list):
    # replica word forms dilute the reference counts and shift the
    # drop RATE (measured 17.6x at x10) — the sem_dup_pairs precedent:
    # gate cost, never yield (VERDICT r18 "what's wrong" #1).
    "pplx_vocab",
    "pplx_bigram_rows",
    "pplx_scored",
    # r16: SemDedup under the k ∝ N bounded-cell-size policy. Gated:
    # candidates (the COST model — measured exactly 10.0x at x10) and
    # drops (bounded by the vector count, which grows x factor).
    # sem_dup_pairs is RECORDED but deliberately NOT gated: the first
    # wiring gated it linear and the x10 run failed at 30.5x — the
    # fixture telling the truth, not a regression. At the 0.35 bar
    # (~2.8 sigma on this no-cluster fixture) the corpus's true
    # above-bar pair set grows ~quadratically (chance mass ∝ N^2),
    # and tighter cells under k ∝ N ENRICH the linear candidate
    # stream's hit rate (measured 0.41% at k=16 -> 1.24% at k=160) —
    # the operator finding MORE of the real pairs at the SAME linear
    # cost. Yield converging toward the quadratic truth is success;
    # only the candidate volume is a scale claim.
    "sem_candidates",
    "sem_drops",
    # r17: map-only scoring covers the full corpus — one row per doc
    "qc_scored",
    # r17: BPE token mass and packed-bin cardinality out of the
    # map-only encode + two-level packer
    "bpe_tokens",
    "bpe_bins",
    # r17: span decontamination with both splits growing — leakage is
    # canary + base natural overlap under window-disjoint replicas
    "dspan_leaked_windows",
    "dspan_spans",
)
# Flat-expected counts: a FIXED batch against a grown corpus index may
# not see its MinHash candidate/match mass move at all (shingle-disjoint
# replicas), and ANN dup admissions are bounded by the batch — growth
# here means band-bucket degeneration or an admission regression, which
# the linear 2*factor bound would never catch. Gated at a CONSTANT 2x.
FLAT_KEYS = (
    "ix_probe_candidates",
    "ix_probe_matches",
    "ix_ann_dup_queries",
    # r15: fixed base batch vs the per-scale WINDOW index — perturbed
    # replicas are window-disjoint with the base batch, so collision
    # candidates and merged spans must hold flat; growth here means the
    # 60-bit window hash started pooling random collisions
    "ix_xsub_candidates",
    "ix_xsub_spans",
    # r17: the bounded training sample — cap-constant across scales
    "qc_train_sampled",
    # r18: merges learned per training run — n_merges-bounded always
    "bpet_merges",
)
# Composed-pipeline admitted-set invariants (r14, the self-probe
# semantics): a x`k` batch of unperturbed id-offset replicas must admit
# EXACTLY the base scale's set — every replica is a true near-dup of
# its smaller-id base twin, so the within-batch self-probe rejects all
# copies and the manifest over the admitted set is identical. Equality,
# not a ratio bound: one surviving replica means the self-probe broke
# (under the pre-r14 probe-only semantics these grew linearly — i.e.
# every duplicate shipped to training).
PIPE_EQ_KEYS = (
    "pipe_admitted_docs",
    "pipe_manifest_rows",
    "pipe_tokens",
    "pipe_max_bin",
)
# Walls whose claim is FLATNESS (an O(1)-in-the-scaled-axis step), so
# the linear 2*factor wall bound would never catch a regression: gated
# at a CONSTANT 2x like FLAT_KEYS. Unlike WALL_KEYS (recorded, never
# gated), these ratios DECIDE linear_ok — and the measured walls are
# sub-second, where ordinary JVM/GC noise can double a raw ratio. The
# gate therefore floors BOTH sides at FLAT_WALL_FLOOR_SEC before
# dividing (ADVICE r14): a 0.3s->0.7s jitter passes, while a genuine
# O(sink) regression (0.5s -> multi-second at x10 sinks) still trips.
# The raw un-floored ratio stays in the artifact for trend reading.
FLAT_WALL_KEYS = ("adm_sink_wall_sec",)
FLAT_WALL_FLOOR_SEC = 0.5
WALL_KEYS = (
    "minhash_wall_sec",
    "ann_lsh_wall_sec",
    "ivf_wall_sec",
    "q8_wall_sec",
    "decon_wall_sec",
    "containment_wall_sec",
    "pagerank_wall_sec",
    "cc_wall_sec",
    "probe_wall_sec",
    "ann_probe_wall_sec",
    "ix_probe_wall_sec",
    "ix_ann_wall_sec",
    "merge_wall_sec",
    "pipe_wall_sec",
    "xsub_wall_sec",
    "ix_xsub_wall_sec",
    "sem_wall_sec",
    "sem_persist_build_wall_sec",
    "sem_persist_wall_sec",
    "qc_train_wall_sec",
    "qc_score_wall_sec",
    "bpe_wall_sec",
    "bpet_wall_sec",
    "pplx_wall_sec",
    "dspan_wall_sec",
)
# Persisted-SemDedup invariants (r17): booleans measured per scale —
# the bucketed layout's pair count equals the in-memory subplan's, and
# its executed compare plan holds ZERO Exchange (the co-location is in
# the file layout; any Exchange means the write-time shuffle is being
# paid again on every compare).
SEM_PERSIST_BOOL_KEYS = (
    "sem_persist_pairs_equal",
    "sem_persist_exchange_free",
)
# Per-scale correctness invariants gated as booleans (r17): the
# packer's token-conservation identity — last start_offset + n_tokens
# == total token mass — which a bucket-boundary prefix-sum bug breaks
# while every ratio stays perfectly linear.
INVARIANT_BOOL_KEYS = (
    "bpe_conserved",
    # r18 BPE-trainer contracts: bit-identical retrain, and the
    # distributed iteration arm agreeing with the driver-side arm
    "bpet_deterministic",
    "bpet_arms_agree",
)
# MERGE invariants: a fixed change batch against replica-disjoint base
# tables must touch IDENTICAL partitions and rows at every scale —
# equality, not a ratio bound (cost ∝ touched partitions, never table
# size).
MERGE_EQ_KEYS = (
    "merge_partitions_rewritten",
    "merge_partitions_deleted",
    "merge_rows_upserted",
    "merge_rows_deleted",
)
# IVF occupancy skew: gated at an ABSOLUTE bound, not a ratio — the
# probe's bounded-broadcast claim dies when any single cell absorbs
# too large a corpus share, regardless of how the skew got there.
# The bound lives next to the index code (similarity.IVF_MAX_CELL_SHARE
# = 4x uniform at k=16); duplicated here as a literal would drift.
OCCUPANCY_KEY = "ix_ann_max_cell_share"
# ... and the MinHash twin (r15): the hottest (band, band_hash) bucket's
# row share, reported by dedup.maintain_minhash_index. Gated DIFFERENTLY
# from the IVF cell share, because the two buckets mean different
# things: an IVF cell is a geometric partition (a hot cell inflates
# EVERY query routed to it, dups or not — absolute bound), while a
# MinHash bucket is content-defined — only near-duplicate content lands
# together, so on this deliberately dup-heavy fixture the RAW corpus
# index legitimately measures ~0.35 at x1 (1.45M true near-dup pairs;
# that mass must be reported by any correct index). The SCALE failure
# mode is hash-width degeneration: corpus growth pooling RANDOM
# collisions into buckets, which shows as the share GROWING (or holding
# absolutely high) as window-disjoint replicas multiply. Gate: every
# scale's share is either inside the healthy absolute bound
# (dedup.MINHASH_MAX_BUCKET_SHARE — the admission-maintained-index
# contract, pytest-pinned via the boilerplate flood) or no more
# concentrated than the base fixture (x1 share * 1.2). Measured here:
# 0.35 -> 0.20 -> 0.06, monotone dilution. The relative arm alone
# cannot see a hash ALREADY degenerate at the base scale — a ~1.0
# share at every scale is "non-concentrating" — so a hard degeneracy
# ceiling caps it (ADVICE r15): 0.6 sits ~1.7x above the measured
# dup-heavy base (drift room) and far below the one-bucket pool a
# width failure produces.
MH_OCCUPANCY_KEY = "ix_mh_max_bucket_share"
MH_CONCENTRATION_SLACK = 1.2
MH_DEGENERACY_CEILING = 0.6
# Trained-classifier quality at scale (r17): holdout AUC per scale,
# gated ABSOLUTE like the occupancy keys — the derived task is
# separable by construction (measured ~1.0 at every scale), so a slide
# below the floor means the bounded sample or the feature hashing
# stopped carrying the signal, regardless of growth ratios.
QC_AUC_KEY = "qc_auc"
QC_AUC_FLOOR = 0.90


def compute_gate(results: dict, factor: int, base: str) -> dict:
    """The pass/fail arithmetic, pure and unit-tested
    (tests/test_scale_gate.py): linear candidate growth = ratio ~
    factor, quadratic = ~ factor^2 — gate at 2x slack over linear, far
    below the quadratic failure; and the iterative-rounds gate —
    large-star/small-star converges in O(log n) rounds, so x`factor`
    data may add ~log2(factor) rounds at the theoretical worst and
    anything past +4 means the rounds claim broke (O(n)
    diameter-walking would add thousands)."""
    from nytimes_batch_processor_spark.operators.dedup import (
        MINHASH_MAX_BUCKET_SHARE,
    )
    from nytimes_batch_processor_spark.operators.similarity import (
        IVF_MAX_CELL_SHARE,
    )

    hi, lo = results[f"x{factor}"], results["x1"]
    # zero-denominator clamps: counts are integers (>= 1 meaningful);
    # walls are seconds where a sub-second x1 is real signal — clamping
    # those to 1s would understate the recorded wall-growth ratios.
    ratios = {
        **{key: round(hi[key] / max(lo[key], 1), 2) for key in COUNT_KEYS},
        **{key: round(hi[key] / max(lo[key], 1), 2) for key in FLAT_KEYS},
        **{key: round(hi[key] / max(lo[key], 1e-3), 2) for key in WALL_KEYS},
        **{key: round(hi[key] / max(lo[key], 1e-3), 2) for key in FLAT_WALL_KEYS},
        # recorded for the artifact; GATED below as equality, not ratio
        **{key: round(hi[key] / max(lo[key], 1), 2) for key in PIPE_EQ_KEYS},
    }
    # gated flat-wall ratio: floored both sides so sub-second GC noise
    # cannot flip the boolean (the recorded `ratios` entry stays raw)
    floored_flat_walls = {
        key: max(hi[key], FLAT_WALL_FLOOR_SEC)
        / max(lo[key], FLAT_WALL_FLOOR_SEC)
        for key in FLAT_WALL_KEYS
    }
    linear_ok = (
        all(ratios[key] <= 2.0 * factor for key in COUNT_KEYS)
        and all(ratios[key] <= 2.0 for key in FLAT_KEYS)
        and all(floored_flat_walls[key] <= 2.0 for key in FLAT_WALL_KEYS)
        and all(hi[key] == lo[key] for key in PIPE_EQ_KEYS)
    )
    rounds_ok = hi["cc_rounds"] <= lo["cc_rounds"] + 4
    qc_auc_ok = all(row[QC_AUC_KEY] >= QC_AUC_FLOOR for row in results.values())
    sem_persist_ok = all(
        row[key] for row in results.values() for key in SEM_PERSIST_BOOL_KEYS
    )
    invariants_ok = all(
        row[key] for row in results.values() for key in INVARIANT_BOOL_KEYS
    )
    merge_ok = all(hi[key] == lo[key] for key in MERGE_EQ_KEYS)
    mh_base = lo[MH_OCCUPANCY_KEY]
    occupancy_ok = all(
        row[OCCUPANCY_KEY] <= IVF_MAX_CELL_SHARE
        # degeneracy ceiling FIRST (ADVICE r15): the relative arm is
        # measured against the base share, so a hash already pooled at
        # x1 (~1.0 everywhere) would otherwise read non-concentrating
        and row[MH_OCCUPANCY_KEY] <= MH_DEGENERACY_CEILING
        and (
            row[MH_OCCUPANCY_KEY] <= MINHASH_MAX_BUCKET_SHARE
            or row[MH_OCCUPANCY_KEY] <= mh_base * MH_CONCENTRATION_SLACK
        )
        for row in results.values()
    )
    return {
        "metric": "scale_growth_x%d_vs_x1" % factor,
        "value": max(ratios[key] for key in COUNT_KEYS),
        "unit": "ratio",
        "sf_base": base,
        "scales": results,
        "ratios_x%d_over_x1" % factor: ratios,
        "cc_rounds_x1_x%d" % factor: [lo["cc_rounds"], hi["cc_rounds"]],
        "rounds_ok": rounds_ok,
        "merge_ok": merge_ok,
        "occupancy_ok": occupancy_ok,
        "occupancy_bound": IVF_MAX_CELL_SHARE,
        "qc_auc_ok": qc_auc_ok,
        "qc_auc_floor": QC_AUC_FLOOR,
        "sem_persist_ok": sem_persist_ok,
        "invariants_ok": invariants_ok,
        "mh_bucket_bound": MINHASH_MAX_BUCKET_SHARE,
        "mh_degeneracy_ceiling": MH_DEGENERACY_CEILING,
        "linear_ok": linear_ok and rounds_ok and merge_ok and occupancy_ok
        and qc_auc_ok and sem_persist_ok and invariants_ok,
    }


def main() -> None:
    spark = get_spark("scale-bench", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    specs = all_specs()
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm

    # Fixed corpus index for the incremental-probe family: built ONCE
    # from the BASE corpus (doc_id % mod != 0) — only the batch scales.
    from nytimes_batch_processor_spark.operators.dedup import (
        _PROBE_BATCH_MOD,
        build_minhash_index,
    )

    index_path = os.path.join(SCALE_ROOT, "probe_index")
    os.makedirs(SCALE_ROOT, exist_ok=True)
    build_minhash_index(
        spark.read.parquet(f"{BASE}/documents.parquet").filter(
            F.col("doc_id") % _PROBE_BATCH_MOD != 0
        ),
        index_path,
    )
    # ... and its similarity twin: the cell-partitioned IVF index over
    # the BASE embedding corpus (vec_id % mod != 0) — only the batch
    # scales in the ann-probe family.
    from nytimes_batch_processor_spark.operators.similarity import (
        _SIM_PROBE_MOD,
        build_ivf_parquet_index,
    )

    ann_index_path = os.path.join(SCALE_ROOT, "ann_probe_index")
    build_ivf_parquet_index(
        spark.read.parquet(f"{BASE}/embeddings.parquet").filter(
            F.col("vec_id") % _SIM_PROBE_MOD != 0
        ),
        ann_index_path,
    )

    results: dict[str, dict] = {}
    for k in SCALES:
        sf_dir = build_scale(spark, k)
        row: dict[str, float | int] = {
            "docs": spark.read.parquet(f"{sf_dir}/documents.parquet").count(),
            "vecs": spark.read.parquet(f"{sf_dir}/embeddings.parquet").count(),
        }

        def run_noop(name: str) -> float:
            fn = specs[name].fn
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
            return min(
                timed(lambda: fn(spark, sf_dir).write.format("noop").mode("overwrite").save())
                for _ in range(2)
            )

        row["minhash_wall_sec"] = run_noop("dedup_minhash_lsh")
        row["minhash_pairs"] = specs["dedup_minhash_lsh"].fn(spark, sf_dir).count()
        row["ann_lsh_wall_sec"] = run_noop("sim_ann_lsh_topk")
        row["ann_lsh_candidates"] = ann_lsh_candidates(spark, sf_dir)
        row["ivf_wall_sec"] = run_noop("sim_ann_ivf_fixed_topk")
        row["ivf_candidates"] = ivf_candidates(spark, sf_dir)
        row["q8_wall_sec"] = run_noop("sim_ann_ivf_q8_serve")
        # the q8 serving path probes the same nprobe cells as the fixed
        # IVF probe (int8 scoring changes the arithmetic, not the cell
        # join), so its pre-rerank candidate cardinality IS
        # ivf_candidates. ADVICE r7: assert that equality through the
        # q8 path's own corpus definition at the base scale, THEN alias
        # (a verbatim per-scale re-measurement doubles the cell-join
        # cost for an identical number).
        if k == SCALES[0]:
            q8c = ivf_candidates(spark, sf_dir, drop_zero_vectors=True)
            assert q8c == row["ivf_candidates"], (
                f"q8 probe diverged from fixed-IVF probe: {q8c} vs "
                f"{row['ivf_candidates']} candidates at x1 — stop "
                "aliasing q8_candidates and measure it per scale"
            )
        row["q8_candidates"] = row["ivf_candidates"]
        # corpus-sized band width: 12 bits at the 5k-doc base, +1 bit
        # per corpus doubling (2*log2 growth keeps random collisions
        # ~flat; the catalog entry itself stays at the fixed 12-bit
        # width its oracle replays)
        import math

        band_bits = 12 + max(0, math.ceil(math.log2(k)))
        row["simhash_band_bits"] = band_bits
        row["simhash_collisions"] = simhash_collisions(spark, sf_dir, band_bits)
        row["decon_wall_sec"] = run_noop("decon_train_test_overlap")
        decon = specs["decon_train_test_overlap"].fn(spark, sf_dir)
        agg = decon.agg(
            F.count(F.lit(1)).alias("docs"), F.sum("n_shared_shingles").alias("pairs")
        ).collect()[0]
        row["decon_contaminated_docs"] = int(agg["docs"])
        row["decon_shared_shingle_pairs"] = int(agg["pairs"])

        # prefix-filtered containment join (r8): candidate cardinality
        # of the EXACT subplan the operator verifies, over the full
        # (unbounded) scaled corpus — the part the bounded catalog
        # entry cannot show
        from nytimes_batch_processor_spark.operators.dedup import (
            containment_prefix_plan,
            shingle_arrays,
        )

        docs_df = spark.read.parquet(f"{sf_dir}/documents.parquet")
        sh = shingle_arrays(docs_df).localCheckpoint(eager=True)
        t0 = time.perf_counter()
        cand_df, pairs_df = containment_prefix_plan(sh)
        row["containment_candidates"] = cand_df.count()
        row["containment_pairs"] = pairs_df.count()
        row["containment_wall_sec"] = round(time.perf_counter() - t0, 3)
        # candidates-per-true-pair, recorded per scale (VERDICT r9
        # stretch 7): the baseline any future prune idea must beat. The
        # r9 root-cause note says the residual mass is same-size pairs
        # sharing an early rare shingle — O(1)-evidence bounds can't
        # remove it, so this ratio is expected ~flat across scales.
        row["containment_cand_per_pair"] = round(
            row["containment_candidates"] / max(row["containment_pairs"], 1), 2
        )

        # iterative families (VERDICT r7 item 5)
        # PageRank: k disjoint replicas of the BASE trade graph drive
        # the SAME pagerank_fixed_ranks loop the catalog entry runs —
        # per-iteration work is one rank-broadcast join over O(edges),
        # so wall growth must track edge growth, never edges^2
        from nytimes_batch_processor_spark.operators.graph import (
            connected_components_star,
            pagerank_fixed_ranks,
        )

        trade = _trade_graph(spark, k)
        row["pagerank_edges"] = trade.count()
        t0 = time.perf_counter()
        final = pagerank_fixed_ranks(trade)
        row["pagerank_nodes"] = final.count()
        row["pagerank_wall_sec"] = round(time.perf_counter() - t0, 3)

        # Connected components over THIS scale's minhash near-dup pairs:
        # rounds must grow O(log n) with the corpus (the large-star/
        # small-star claim), edge volume linearly
        pairs = specs["dedup_minhash_lsh"].fn(spark, sf_dir).localCheckpoint(
            eager=True
        )
        cc_stats: dict = {}
        t0 = time.perf_counter()
        comp = connected_components_star(pairs, stats=cc_stats)
        row["cc_components"] = comp.select("component").distinct().count()
        row["cc_wall_sec"] = round(time.perf_counter() - t0, 3)
        row["cc_rounds"] = cc_stats["rounds"]
        row["cc_input_edges"] = cc_stats["input_edges"]

        # r11 families: batch-scaled probe vs fixed index; fixed change
        # batch vs month-disjoint replicated base table
        row.update(probe_scale_measure(spark, k, index_path))
        row.update(ann_probe_scale_measure(spark, k, ann_index_path))
        # the composed end-to-end curation chain over the same
        # batch-scaled axis and fixed index (VERDICT r11 item 4)
        row.update(pipeline_scale_measure(spark, k, index_path))
        # the admission SINK-SIZE axis: fixed batch + index, x`k` sink
        # (VERDICT r12 item 4 — the O(1) batch-partition sink claim)
        row.update(adm_sink_scale_measure(spark, k, index_path))
        # the index-scaled axis: FIXED base batch, x`k` corpus index
        # (at x1 it aliases this row's probe_*/ann_probe_* measurement)
        row.update(
            index_scaled_probe_measure(
                spark, k, sf_dir, row, ann_index_path, index_path
            )
        )
        row.update(merge_scale_measure(spark, k))
        # the exact-substring span family over the full per-scale corpus
        # (r15: windows/candidates/spans linear under the frequency valve)
        row.update(xsub_scale_measure(spark, sf_dir))
        # the SemDedup family over the full per-scale corpus under the
        # k ∝ N bounded-cell-size policy (r16)
        row.update(semdedup_scale_measure(spark, sf_dir, k))
        # the trained-quality-classifier family (r17)
        row.update(qc_scale_measure(spark, sf_dir, k))
        # the BPE-packing and span-decontamination families (r17)
        row.update(bpe_scale_measure(spark, sf_dir))
        # the BPE TRAINER family (r18)
        row.update(bpet_scale_measure(spark, sf_dir))
        # the perplexity-filter family (r18)
        row.update(pplx_scale_measure(spark, sf_dir))
        row.update(dspan_scale_measure(spark, sf_dir))
        # ... and its index-scaled axis: fixed base batch vs the x`k`
        # window index (r15: candidates/spans FLAT)
        row.update(window_probe_scale_measure(spark, k, sf_dir))

        results[f"x{k}"] = row
        print(f"x{k}: {row}", file=sys.stderr)

    out = compute_gate(results, SCALES[-1], BASE)
    print(json.dumps(out))
    with open(os.path.join(REPO, "BENCH_sf1.json"), "w") as f:
        json.dump(out, f, indent=1)
    spark.stop()
    # out["linear_ok"] (not a bare local): the r10 script referenced an
    # undefined name here and died with NameError AFTER writing the
    # JSON — masking the gate's exit-code contract
    sys.exit(0 if out["linear_ok"] else 1)


if __name__ == "__main__":
    main()

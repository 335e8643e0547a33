"""Streaming ingest screen for the documents feed: every arriving
micro-batch of documents is checked against a STATIC benchmark-probe
shingle set (stream-static pattern) and contaminated docs are appended to
a quarantine table.

This is the production shape of decontamination: the eval-suite shingle
set is fixed and small (broadcast), documents arrive continuously, and
each document's verdict depends only on its own grams — so the screen is
stateless across batches (foreachBatch, no stream state to bound) and
every batch's plan is the same broadcast join as the batch query
(`pipelines/text.py contamination_hits`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipelines.text import contamination_hits
from .state import read_index, read_totals, seed_index, write_batch


class ContaminationScreen:
    """foreachBatch handler: per batch, compute contamination of the
    batch's documents against the fixed probe set and append verdicts to
    the quarantine parquet path. Stateless across batches by design —
    a document's verdict never depends on other batches."""

    def __init__(self, probes: DataFrame, out_dir: str) -> None:
        self.probes = probes
        self.out_dir = out_dir

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        hits = contamination_hits(batch_df, self.probes)
        write_batch(hits, self.out_dir, batch_id)


class DedupScreen:
    """foreachBatch handler: per batch of arriving documents, run the
    incremental MinHash screen against the FIXED corpus (shingles +
    band index computed once up front, as a real deployment would read
    them from storage) and append near-dup verdicts to the quarantine
    path. Stateless across batches: a verdict is (new doc × corpus)
    only, so batch boundaries are invisible."""

    def __init__(self, corpus_shingles: DataFrame, out_dir: str) -> None:
        self.corpus = corpus_shingles
        self.out_dir = out_dir

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..pipelines.dedup import screen_against_corpus, shingle_docs

        hits = screen_against_corpus(shingle_docs(batch_df), self.corpus)
        write_batch(hits, self.out_dir, batch_id)


def _growing_union(
    shingles: DataFrame | None = None,
    bands: DataFrame | None = None,
    rejected: DataFrame | None = None,
) -> DataFrame:
    """The growing-dedup store's unified row shape: shingle rows, band
    rows, and rejection-verdict rows share one schema discriminated by
    the ``kind`` partition column, so a batch's entire output is ONE
    partitioned write (r11, VERDICT r10 next #6 — the three separate
    writes were ~2 extra actions per micro-batch)."""
    parts = []
    if shingles is not None:
        parts.append(
            shingles.select("doc_id", "sh").withColumn(
                "kind", F.lit("shingles")
            )
        )
    if bands is not None:
        parts.append(
            bands.select("doc_id", "band_id", "band_key").withColumn(
                "kind", F.lit("bands")
            )
        )
    if rejected is not None:
        parts.append(
            rejected.select("doc_id", "reason").withColumn(
                "kind", F.lit("rejected")
            )
        )
    uni = parts[0]
    for p in parts[1:]:
        uni = uni.unionByName(p, allowMissingColumns=True)
    return uni


def growing_store_path(base_path: str, kind: str) -> str:
    """Reader path of one kind within the unified growing-dedup store
    (partition-directory read: prunes to the kind without listing the
    siblings)."""
    return f"{base_path}/store/kind={kind}"


def init_growing_index(
    spark: SparkSession, corpus_shingles: DataFrame, base_path: str
) -> None:
    """Seed the growing dedup index with the pre-existing corpus. One
    unified write (shingles + bands share the store schema)."""
    from ..pipelines.dedup import minhash_bands

    seed_index(
        _growing_union(
            shingles=corpus_shingles,
            bands=minhash_bands(corpus_shingles),
        ),
        f"{base_path}/store",
        "kind",
    )


def _batch_verdicts(
    batch: DataFrame,
    hits: DataFrame,
    id_col: str,
    corpus_reason: str,
    intra_reason: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The verdict tail shared by the growing Jaccard and semantic
    screens. ``hits`` is the fused (new_doc, corpus_doc, is_self) frame
    of verified pairs: corpus pairs reject their new doc, self pairs
    among the survivors resolve to the component-minimum keeper
    (``neardup_components``, the batch engine's convention). Returns
    (kept batch rows, keeper ids, rejected (doc_id, reason) rows)."""
    from ..pipelines.dedup import neardup_components

    dup_vs_corpus = (
        hits.filter(~F.col("is_self"))
        .select(F.col("new_doc").alias(id_col))
        .distinct()
    )
    survivors = batch.join(
        dup_vs_corpus, id_col, "left_anti"
    ).localCheckpoint(eager=False)
    surv_ids = survivors.select(id_col)
    edges = (
        hits.filter(F.col("is_self"))
        .join(surv_ids.withColumnRenamed(id_col, "new_doc"), "new_doc")
        .join(surv_ids.withColumnRenamed(id_col, "corpus_doc"), "corpus_doc")
        .select(
            F.least("new_doc", "corpus_doc").alias("vec_a"),
            F.greatest("new_doc", "corpus_doc").alias("vec_b"),
        )
        .distinct()
    )
    comp = neardup_components(
        edges, survivors.select(F.col(id_col).alias("vec_id"))
    )
    keepers = comp.filter(F.col("vec_id") == F.col("component")).select(
        F.col("vec_id").alias(id_col)
    )
    kept = survivors.join(keepers, id_col)
    # the corpus-dup set is re-derived as the complement of the two
    # CHECKPOINTED frames (batch minus survivors) — referencing
    # dup_vs_corpus here would re-execute the whole corpus verify a
    # second time just to write the audit rows (measured ~0.8 s of the
    # r8 per-batch floor)
    rejected = (
        batch.join(surv_ids, id_col, "left_anti")
        .select(F.col(id_col).alias("doc_id"))
        .withColumn("reason", F.lit(corpus_reason))
        .unionByName(
            comp.filter(F.col("vec_id") != F.col("component"))
            .select(F.col("vec_id").alias("doc_id"))
            .withColumn("reason", F.lit(intra_reason))
        )
    )
    return kept, keepers, rejected


class GrowingDedupScreen:
    """foreachBatch handler for GROWING-corpus streaming dedup — the real
    training-data ingestion shape: each arriving batch dedups against
    everything previously ACCEPTED (seed corpus + earlier batches'
    survivors), and this batch's survivors join the persisted index so
    later batches see them. Contrast ``DedupScreen``, whose corpus is
    fixed.

    Batch-internal policy matches the batch engine's keeper convention
    (``neardup_components``): near-dup clusters WITHIN a batch keep the
    component-minimum doc_id.

    Replay-safe: the index reads prune to ``batch_id < N`` (partition
    columns), so a batch re-screens against exactly the pre-N state, and
    its own appends dynamic-overwrite the batch_id=N partitions — a
    crash between write and checkpoint replays to the identical index.

    Scale: the index is a written parquet table (one unified store,
    (kind, batch_id)-partitioned — shingles + band index + rejection
    verdicts; see :func:`_growing_union`); a batch pays the keyed
    screen joins only — never all-corpus pairwise work, and the corpus
    text is never rescanned. Rejected-doc verdicts are rows of the
    same store (``rejected_path``), so the batch's ENTIRE output is a
    single write action."""

    def __init__(self, base_path: str) -> None:
        self.base = base_path
        self.rejected_path = growing_store_path(base_path, "rejected")

    #: LSH bucket cap, per population (corpus buckets vs batch
    #: buckets) — matches screen_against_corpus's default
    MAX_BUCKET = 1000

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql.window import Window

        from ..pipelines.dedup import (
            JACCARD_THRESHOLD,
            _jaccard,
            minhash_bands,
            shingle_docs,
        )

        spark = batch_df.sparkSession
        # LAZY checkpoint (r14 opt): the band checkpoint below is the
        # first consumer, so the shingle pass materializes inside that
        # job — one driver-paced job for (shingle + minhash) instead
        # of two; later consumers still read the pinned blocks
        sh_new = shingle_docs(batch_df).localCheckpoint(eager=False)
        # one minhash pass per batch (r9, VERDICT r8 next #6): band
        # values are per-doc, so the batch band frame derived here
        # serves the corpus screen's probe side, BOTH sides of the
        # intra-batch self-screen, and the index append (sliced to
        # keepers) — the first cut re-derived signatures three more
        # times, ~40% of the per-batch floor
        bands_new = minhash_bands(sh_new).localCheckpoint(eager=True)
        corpus_sh = read_index(
            spark, growing_store_path(self.base, "shingles"), batch_id
        ).select("doc_id", "sh")
        corpus_bands = read_index(
            spark, growing_store_path(self.base, "bands"), batch_id
        ).select("doc_id", "band_id", "band_key")
        # FUSED verify (r10, VERDICT r9 next #2): candidates for BOTH
        # screens are generated up front with the max_bucket cap
        # applied per population AT GENERATION — corpus buckets capped
        # over the corpus band table (unchanged), batch self-buckets
        # capped over the BATCH band frame (previously over the
        # survivor slice; the two differ only when a bucket crosses
        # the cap between the batch and its survivor subset — a
        # documented, micro-batch-bounded deviation) — then a SINGLE
        # jaccard join verifies the union (other-side shingle fetch =
        # corpus table ∪ broadcast batch). Self edges are filtered to
        # survivor pairs afterwards — band values are per-doc, so
        # bucket co-membership is population-independent, and the
        # filtered edge set equals the survivors-only screen's
        # PROVIDED no bucket crosses MAX_BUCKET between the batch and
        # survivor populations (the deviation documented above; when a
        # bucket does cross, this form prunes it where the survivor
        # slice would have kept it).
        bucket_w = Window.partitionBy("band_id", "band_key")
        cand_corpus = (
            corpus_bands.withColumn("bucket_n", F.count("*").over(bucket_w))
            .filter(F.col("bucket_n") <= self.MAX_BUCKET)
            .join(
                F.broadcast(
                    bands_new.select(
                        F.col("doc_id").alias("new_doc"),
                        "band_id",
                        "band_key",
                    )
                ),
                ["band_id", "band_key"],
            )
            .select(F.col("doc_id").alias("corpus_doc"), "new_doc")
            .distinct()
        )
        bands_capped = bands_new.withColumn(
            "bucket_n", F.count("*").over(bucket_w)
        ).filter(F.col("bucket_n") <= self.MAX_BUCKET)
        cand_self = (
            bands_capped.select(
                F.col("doc_id").alias("new_doc"), "band_id", "band_key"
            )
            .join(
                bands_capped.select(
                    F.col("doc_id").alias("corpus_doc"),
                    "band_id",
                    "band_key",
                ),
                ["band_id", "band_key"],
            )
            .filter(F.col("new_doc") < F.col("corpus_doc"))
            .select("new_doc", "corpus_doc")
            .distinct()
        )
        cand_all = (
            cand_corpus.withColumn("is_self", F.lit(False))
            .unionByName(cand_self.withColumn("is_self", F.lit(True)))
        )
        sh_probe = F.broadcast(
            sh_new.select(
                F.col("doc_id").alias("new_doc"), F.col("sh").alias("sh_n")
            )
        )
        other_sh = corpus_sh.select(
            F.col("doc_id").alias("corpus_doc"), F.col("sh").alias("sh_c")
        ).unionByName(
            sh_new.select(
                F.col("doc_id").alias("corpus_doc"),
                F.col("sh").alias("sh_c"),
            )
        )
        hits = (
            cand_all.join(sh_probe, "new_doc")
            .join(other_sh, "corpus_doc")
            .filter(
                _jaccard(F.col("sh_n"), F.col("sh_c"))
                >= JACCARD_THRESHOLD
            )
            .select("new_doc", "corpus_doc", "is_self")
            # lazy: materializes inside the component probe's first
            # action (together with the survivor anti-join below) —
            # verify join, anti-join and edge derivation fold into one
            # driver-paced job instead of three
            .localCheckpoint(eager=False)
        )
        kept, keepers, rejected = _batch_verdicts(
            sh_new, hits, "doc_id", "corpus_near_dup", "intra_batch_near_dup"
        )
        # SINGLE-ACTION writer (r11, VERDICT r10 next #6): verdicts,
        # survivor shingles, and survivor bands are rows of one
        # (kind, batch_id)-partitioned store, written in ONE action —
        # the previous three writes each paid a job barrier + parquet
        # commit. Micro-batch-bounded: coalesce before writing — 32
        # near-empty tasks per tiny write were ~25% of the per-batch
        # floor, and fewer/larger files also speed up every later
        # batch's pruned index read (small-file listing cost). Replay
        # safety is unchanged: dynamic overwrite replaces exactly the
        # kind=*/batch_id=N partitions this batch produced.
        uni = _growing_union(
            shingles=kept,
            bands=bands_new.join(keepers, "doc_id"),
            rejected=rejected,
        ).coalesce(8)
        write_batch(uni, f"{self.base}/store", batch_id, "kind")


# ---------------------------------------------------------------------------
# Streaming weighted reservoir (r7): the stateful mirror of
# `pipelines/sampling.weighted_sample`. A-ES top-k is MERGEABLE — the k
# largest keys of a union are the k largest of (state ∪ batch) — so a
# per-source reservoir kept in group state converges to exactly the
# batch answer regardless of how the feed is micro-batched (parity
# tested). State is three parallel arrays bounded at k; each trigger
# emits the group's CURRENT reservoir (update semantics).

RESERVOIR_K = 50
RESERVOIR_SALT = "aes-v1"


def _reservoir_output_schema():
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("source", StringType()),
            StructField("doc_id", LongType()),
            StructField("weight", LongType()),
            StructField("sample_key", DoubleType()),
        ]
    )


def _reservoir_state_schema():
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("doc_ids", ArrayType(LongType())),
            StructField("keys", ArrayType(DoubleType())),
            StructField("weights", ArrayType(LongType())),
        ]
    )


def streaming_weighted_sample(
    stream: DataFrame,
    k: int = RESERVOIR_K,
    weight_col: str = "n_chars",
    salt: str = RESERVOIR_SALT,
) -> DataFrame:
    """Per-source A-ES weighted reservoir over the streaming documents
    feed. The md5-uniform and pow key are the EXACT formula of the
    batch `weighted_sample` (hashlib here, md5()/conv()/pow() there —
    both IEEE-double-identical, parity tested), so the final reservoir
    equals the batch per-source top-k on everything ingested. The
    digest is the one per-row python cost (Arrow-batched per group —
    the same class as any content hash; there is no vectorized md5)."""
    import hashlib

    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter, state: GroupState):
        (source,) = key
        if state.exists:
            ids, keys, ws = (list(x) for x in state.get)
        else:
            ids, keys, ws = [], [], []
        for pdf in pdf_iter:
            for doc_id, w in zip(pdf["doc_id"], pdf[weight_col]):
                h = int(
                    hashlib.md5(
                        f"{salt}:{int(doc_id)}".encode()
                    ).hexdigest()[:15],
                    16,
                )
                u = (h + 1) / float(2**60)
                ids.append(int(doc_id))
                keys.append(u ** (1.0 / max(int(w), 1)))
                ws.append(int(w))
        order = sorted(
            range(len(ids)), key=lambda i: (-keys[i], ids[i])
        )[:k]
        ids = [ids[i] for i in order]
        keys = [keys[i] for i in order]
        ws = [ws[i] for i in order]
        state.update((ids, keys, ws))
        yield pd.DataFrame(
            {
                "source": source,
                "doc_id": ids,
                "weight": ws,
                "sample_key": [round(x, 6) for x in keys],
            }
        )

    return stream.groupBy("source").applyInPandasWithState(
        fn,
        outputStructType=_reservoir_output_schema(),
        stateStructType=_reservoir_state_schema(),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming DSIR screen (r7): the online form of importance-based data
# selection. The LM table is fitted ONCE on labeled corpora
# (write_dsir_lm) and persisted; each arriving micro-batch is scored
# against it and kept iff log_ratio ≥ tau — the threshold variant of
# DSIR's top-k resample (a global top-k is not defined over an unbounded
# stream; a fixed weight threshold is the standard online substitute).
# Stateless across batches: a verdict depends only on the doc and the
# frozen LM, so the screen is a foreachBatch like the contamination and
# fixed-corpus dedup screens above.


def write_dsir_lm(
    spark: SparkSession,
    labeled_documents: DataFrame,
    base_path: str,
    target_source: str = "src0",
) -> None:
    """Fit the DSIR LM on the labeled corpus and persist it (≤ 4096
    rows — the constant-size model every screen instance reads)."""
    from ..pipelines.sampling import dsir_lm

    dsir_lm(labeled_documents, target_source).write.mode(
        "overwrite"
    ).parquet(f"{base_path}/dsir_lm")


class DsirScreen:
    """foreachBatch handler: score the batch against the persisted LM,
    append (doc_id, source, n_tokens, log_ratio, keep) verdicts."""

    def __init__(self, lm: DataFrame, out_dir: str, tau: float) -> None:
        self.lm = lm
        self.out_dir = out_dir
        self.tau = tau

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..pipelines.sampling import dsir_score

        verdicts = dsir_score(batch_df, self.lm).withColumn(
            "keep", F.col("log_ratio") >= self.tau
        )
        write_batch(verdicts, self.out_dir, batch_id)


# ---------------------------------------------------------------------------
# Growing-corpus CONTAINMENT screen (r7): the asymmetric complement of
# GrowingDedupScreen. Jaccard misses a short doc swallowed by a long
# accepted one; this screen rejects arrivals largely CONTAINED in any
# previously-accepted doc. The persisted index carries, per accepted
# batch: shingle sets (exact verify), a posting list (candidate join),
# and a vocabulary-grain df DELTA table — summing deltas per shingle
# reconstructs corpus document frequency without re-aggregating the
# posting list, so a batch pays keyed joins only.


def init_containment_index(
    spark: SparkSession,
    corpus_shingles: DataFrame,
    base_path: str,
    shingle_k: int | None = None,
) -> None:
    """Seed the containment index with the pre-existing corpus.

    ``shingle_k`` records the shingle width the corpus frame was built
    with (r13): on a dense closed-vocab corpus the batch family
    escalates K via the measured collision mass
    (dedup.choose_containment_k), and the SCREEN must shingle its
    batches at the SAME width or its candidate join explodes — the
    gen10 probe measured the static-K=3 screen spilling >80 GB on the
    100x generator corpus while the wide-K index stays flat. The width
    is persisted in the index (``meta``) so every later screen process
    reads it instead of trusting call-site discipline."""
    from ..pipelines.dedup import SHINGLE_K

    postings = corpus_shingles.select("doc_id", F.explode("sh").alias("s"))
    for frame, name in (
        (corpus_shingles, "shingles"),
        (postings, "postings"),
        (postings.groupBy("s").agg(F.count("*").alias("df")), "freq"),
    ):
        seed_index(frame, f"{base_path}/{name}")
    spark.createDataFrame(
        [(int(shingle_k if shingle_k is not None else SHINGLE_K),)],
        "shingle_k int",
    ).write.mode("overwrite").parquet(f"{base_path}/meta")


class GrowingContainmentScreen:
    """foreachBatch handler for growing-corpus containment dedup: each
    arriving batch is screened for docs contained in anything
    previously ACCEPTED (seed + earlier survivors); survivors append
    their shingles, postings, and df deltas so later batches see them.

    Intra-batch policy: containment edges WITHIN a batch (either
    direction) are treated as undirected near-dup links and resolved to
    the component-minimum keeper — the same convention as
    ``GrowingDedupScreen`` / ``neardup_components``, so a chain
    A⊂B, B⊂C keeps exactly one representative deterministically.

    Replay-safe exactly like the Jaccard screen: index reads prune to
    ``batch_id < N`` partitions and writes dynamic-overwrite the
    batch_id=N partitions.

    The verdict tail is not ``_batch_verdicts``: there is no fused hit
    frame — the intra-batch screen is a second containment pass that
    needs the survivors first, so the survivors (and the kept slice
    the three index appends read) are checkpointed eagerly."""

    def __init__(
        self, base_path: str, out_dir: str, threshold: float = 0.8
    ) -> None:
        self.base = base_path
        self.out_dir = out_dir
        self.threshold = threshold
        self._k: int | None = None

    def _index_k(self, spark: SparkSession) -> int:
        """The shingle width the index was seeded with (``meta``): the
        batch MUST shingle at the index's K or containment values are
        meaningless and the candidate join explodes on dense corpora."""
        if self._k is None:
            from pyspark.errors import AnalysisException

            from ..pipelines.dedup import SHINGLE_K

            try:
                self._k = int(
                    spark.read.parquet(f"{self.base}/meta").collect()[0][
                        "shingle_k"
                    ]
                )
            except AnalysisException as exc:
                # ONLY the missing-meta case is the legacy (pre-r13,
                # K=SHINGLE_K) index; any other failure — transient IO,
                # permissions, a corrupt file — must propagate (ADVICE
                # r13 #2: silently defaulting to K=3 against a wide-K
                # index is exactly the width mismatch the meta file was
                # added to prevent: meaningless containment values and
                # an exploding candidate join).
                if "PATH_NOT_FOUND" not in str(exc):
                    raise
                self._k = SHINGLE_K
        return self._k

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..pipelines.dedup import (
            neardup_components,
            screen_containment_against_corpus,
            shingle_docs,
        )

        spark = batch_df.sparkSession
        sh_new = shingle_docs(
            batch_df, self._index_k(spark)
        ).localCheckpoint(eager=True)
        corpus_sh = read_index(
            spark, f"{self.base}/shingles", batch_id
        ).select("doc_id", "sh")
        corpus_postings = read_index(
            spark, f"{self.base}/postings", batch_id
        ).select("doc_id", "s")
        # r14 (VERDICT r13 next #3, the batch family's levers applied
        # to the screen): the probe ordering only ever reads df for the
        # BATCH's own shingles, so the per-batch-growing full-vocabulary
        # aggregate is semi-joined down to the micro-batch's shingle
        # set BEFORE the groupBy — identical df values for every
        # shingle the screen can touch (a posting for a never-probed
        # shingle cannot match any probe), at batch-grain shuffle cost
        # instead of corpus-grain.
        batch_s = F.broadcast(
            sh_new.select(F.explode("sh").alias("s")).distinct()
        )
        corpus_freq = (
            read_index(spark, f"{self.base}/freq", batch_id)
            .join(batch_s, "s")
            .groupBy("s")
            .agg(F.sum("df").alias("df"))
        )
        # exact mode (max_bucket=None, r14): the posting side is
        # semi-joined against the batch's probe shingles, so recall is
        # 1.0 by construction; posting verify (r15) counts |A∩B| over
        # corpus POSTING rows instead of scanning the shingle arrays —
        # measured ~12% faster at gen10 (SCALE.md), bit-equal to the
        # array verify (tests compare the two paths of the batch twin)
        hits = screen_containment_against_corpus(
            sh_new,
            corpus_sh,
            threshold=self.threshold,
            max_bucket=None,
            corpus_postings=corpus_postings,
            corpus_freq=corpus_freq,
            posting_verify=True,
        )
        contained = hits.select(
            F.col("new_doc").alias("doc_id")
        ).distinct()
        survivors = sh_new.join(
            contained, "doc_id", "left_anti"
        ).localCheckpoint(eager=True)
        # intra-batch containment either way → undirected edge
        self_hits = screen_containment_against_corpus(
            survivors,
            survivors,
            threshold=self.threshold,
            max_bucket=None,
            posting_verify=True,
        )
        edges = self_hits.select(
            F.least("new_doc", "corpus_doc").alias("vec_a"),
            F.greatest("new_doc", "corpus_doc").alias("vec_b"),
        ).distinct()
        comp = neardup_components(
            edges, survivors.select(F.col("doc_id").alias("vec_id"))
        )
        keepers = comp.filter(F.col("vec_id") == F.col("component")).select(
            F.col("vec_id").alias("doc_id")
        )
        kept = survivors.join(keepers, "doc_id").localCheckpoint(eager=True)
        rejected = contained.withColumn(
            "reason", F.lit("contained_in_corpus")
        ).unionByName(
            comp.filter(F.col("vec_id") != F.col("component"))
            .select(F.col("vec_id").alias("doc_id"))
            .withColumn("reason", F.lit("intra_batch_contained"))
        )
        write_batch(rejected, self.out_dir, batch_id)
        kept_postings = kept.select("doc_id", F.explode("sh").alias("s"))
        for frame, name in (
            (kept.select("doc_id", "sh"), "shingles"),
            (kept_postings, "postings"),
            (
                kept_postings.groupBy("s").agg(F.count("*").alias("df")),
                "freq",
            ),
        ):
            write_batch(frame, f"{self.base}/{name}", batch_id)


# ---------------------------------------------------------------------------
# Growing-corpus SEMANTIC screen (r7 continuation): the embedding-space
# member of the screen trio (lexical GrowingDedupScreen, directional
# GrowingContainmentScreen, semantic this). Arrivals are ENCODED
# in-engine (pipelines/encode.py — deterministic fake model; the real
# model slots into the same seam), screened against everything
# previously accepted via the persisted multi-table LSH index, and
# survivors' vectors + bucket assignments join the index so later
# batches see them.


def _semantic_index_slice(
    emb: DataFrame, asg: DataFrame
) -> dict[str, DataFrame]:
    """One batch's slice of the growing semantic index by table name,
    laid PRUNABLE (VERDICT r7 What's-wrong #2): both tables are range-laid
    out and sorted on their probe key (embeddings on the coarse
    ``cell``, buckets on the packed ``tb``) so the per-batch IN-filters
    prune at parquet row-group stats — the scans read matching row
    groups, not the whole growing table. Sort-based pruning instead of
    a cell directory per batch: micro-batches are small, and 64 tiny
    files per batch would make LISTING the index the new linear cost
    (measured — the directory-partitioned layout crept ~0.3 s/batch at
    sf0.1). At warehouse scale the same two sorted tables simply get
    coarser files; the key layout carries over unchanged."""
    cells = asg.groupBy("vec_id").agg(F.min("cell").alias("cell"))
    return {
        "embeddings": emb.join(cells, "vec_id")
        .repartitionByRange(2, "cell")
        .sortWithinPartitions("cell"),
        "buckets": asg.repartitionByRange(2, "tb").sortWithinPartitions("tb"),
    }


def init_semantic_index(
    spark: SparkSession,
    corpus_docs: DataFrame,
    base_path: str,
    bits: int | None = None,
    tables: int | None = None,
) -> None:
    """Seed the growing semantic index: encode the pre-existing corpus
    and write its embedding table + packed multi-table bucket index.

    ``bits``/``tables`` select the LSH geometry (default: the
    LSH_BITS/NEARDUP_TABLES constants) — pass the pair
    similarity.choose_ann_config measured on the corpus so the index
    is built at a setting whose recall was MEASURED, not guessed
    (VERDICT r9 next #1). The screen must be constructed with the
    SAME pair."""
    from ..pipelines.encode import encode_documents
    from ..pipelines.similarity import (
        LSH_BITS,
        NEARDUP_TABLES,
        multi_table_assignments,
    )

    emb = (
        encode_documents(corpus_docs)
        .select(F.col("doc_id").alias("vec_id"), "embedding")
        .localCheckpoint(eager=True)
    )
    asg = multi_table_assignments(
        emb,
        bits=bits if bits is not None else LSH_BITS,
        tables=tables if tables is not None else NEARDUP_TABLES,
    ).localCheckpoint(eager=True)
    for name, frame in _semantic_index_slice(emb, asg).items():
        seed_index(frame, f"{base_path}/{name}")


class GrowingSemanticScreen:
    """foreachBatch handler for growing-corpus SEMANTIC dedup: encode
    the batch, reject docs whose vector sits within cosine ≥ threshold
    of any accepted vector, resolve intra-batch clusters to component
    minima, and append survivors' vectors + assignments to the
    persisted index. Replay-safe exactly like GrowingDedupScreen:
    reads prune to batch_id < N, writes dynamic-overwrite batch_id = N.

    Scale shape (r8 re-plan, VERDICT r7 What's-wrong #2 — the previous
    screen full-scanned BOTH index tables per batch, so per-batch wall
    grew linearly with index size, 5.9→10.4 s over 4 batches): the
    probe's distinct packed ``tb`` keys (bounded: ≤ batch × tables)
    collect to an IN-filter that parquet prunes at row-group stats on
    the tb-sorted bucket table; the exact-verify vector fetch prunes
    to the candidates' coarse ``cell`` partitions. Per-batch cost is
    O(batch × matching buckets/cells), not O(batch × index)."""

    def __init__(
        self,
        base_path: str,
        out_dir: str,
        threshold: float = 0.9,
        bits: int | None = None,
        tables: int | None = None,
    ) -> None:
        from ..pipelines.similarity import LSH_BITS, NEARDUP_TABLES

        self.base = base_path
        self.out_dir = out_dir
        self.threshold = threshold
        # LSH geometry — MUST match the init_semantic_index build (the
        # persisted tb keys are only comparable within one (bits,
        # tables) family). The tuned path feeds choose_ann_config's
        # measured pick through both.
        self.bits = bits if bits is not None else LSH_BITS
        self.tables = tables if tables is not None else NEARDUP_TABLES

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..pipelines.dedup import cosine
        from ..pipelines.encode import encode_documents
        from ..pipelines.similarity import multi_table_assignments

        spark = batch_df.sparkSession
        # LAZY checkpoint (r14 opt): the assignment checkpoint below is
        # the first consumer, so the encode GEMM materializes inside
        # that job — one driver-paced job for (encode + assign) instead
        # of two; every later consumer still reads the pinned blocks
        emb_new = (
            encode_documents(batch_df)
            .select(F.col("doc_id").alias("vec_id"), "embedding")
            .localCheckpoint(eager=False)
        )
        # batch assignments derived ONCE (checkpointed) — the corpus
        # probe, the self screen (both sides), and the index append all
        # slice this frame instead of re-running the GEMM per consumer
        asg_new = multi_table_assignments(
            emb_new, bits=self.bits, tables=self.tables
        ).localCheckpoint(eager=True)
        probe_tbs = [
            r["tb"] for r in asg_new.select("tb").distinct().collect()
        ]
        if not probe_tbs:  # empty micro-batch: no-op, quarantine nothing
            write_batch(
                spark.createDataFrame([], "doc_id long, reason string"),
                self.out_dir,
                batch_id,
            )
            return
        e_new = F.broadcast(
            emb_new.select(
                F.col("vec_id").alias("new_doc"),
                F.col("embedding").alias("emb_n"),
            )
        )
        # corpus candidate pairs: bounded probe IN-list → pruned bucket
        # scan → broadcast join; cell carried (functional on
        # corpus_doc) for the vector-fetch pruning below. Checkpointed:
        # two consumers (cell collect + fused verify).
        cand = (
            read_index(spark, f"{self.base}/buckets", batch_id)
            .filter(F.col("tb").isin(probe_tbs))
            .select(F.col("vec_id").alias("corpus_doc"), "tb", "cell")
            .join(
                F.broadcast(
                    asg_new.select(F.col("vec_id").alias("new_doc"), "tb")
                ),
                "tb",
            )
            .groupBy("new_doc", "corpus_doc")
            .agg(F.min("cell").alias("cell"))
            # lazy: the cell collect right below materializes it
            .localCheckpoint(eager=False)
        )
        cand_cells = [
            r["cell"] for r in cand.select("cell").distinct().collect()
        ]
        # FUSED verify (r10, VERDICT r9 next #2): self candidates are
        # generated from the BATCH assignments up front — candidate
        # generation no longer waits on the corpus verdicts — and both
        # populations verify in ONE cosine join (union'd other-side
        # vector fetch: pruned corpus cells + the broadcast batch).
        # Survivor semantics are preserved by filtering self EDGES to
        # survivor pairs after the verify: a pair of surviving docs
        # shares a bucket independent of which population computed the
        # bucket (band values are per-vector), so the surviving edge
        # set is exactly the survivors-only self screen's. The only
        # extra work is cosines for self pairs whose endpoint is a
        # corpus dup — micro-batch-bounded — in exchange for dropping
        # a whole verify join tree + its barrier.
        cand_self = (
            asg_new.select(F.col("vec_id").alias("new_doc"), "tb")
            .join(
                asg_new.select(F.col("vec_id").alias("corpus_doc"), "tb"),
                "tb",
            )
            .filter(F.col("new_doc") < F.col("corpus_doc"))
            .select("new_doc", "corpus_doc")
            .distinct()
        )
        cand_all = (
            cand.select("new_doc", "corpus_doc")
            .withColumn("is_self", F.lit(False))
            .unionByName(cand_self.withColumn("is_self", F.lit(True)))
        )
        batch_vec = emb_new.select(
            F.col("vec_id").alias("corpus_doc"),
            F.col("embedding").alias("emb_c"),
        )
        if cand_cells:
            other_vec = (
                read_index(spark, f"{self.base}/embeddings", batch_id)
                .filter(F.col("cell").isin(cand_cells))
                .select(
                    F.col("vec_id").alias("corpus_doc"),
                    F.col("embedding").alias("emb_c"),
                )
                .unionByName(batch_vec)
            )
        else:
            other_vec = batch_vec
        hits = (
            cand_all.join(e_new, "new_doc")
            .join(other_vec, "corpus_doc")
            .filter(
                F.round(cosine(F.col("emb_n"), F.col("emb_c")), 6)
                >= self.threshold
            )
            .select("new_doc", "corpus_doc", "is_self")
            # lazy: materializes inside the component probe's first
            # action (together with the survivor anti-join below) —
            # the verify join, the anti-join and the edge derivation
            # fold into one driver-paced job instead of three
            .localCheckpoint(eager=False)
        )
        kept, keepers, rejected = _batch_verdicts(
            emb_new,
            hits,
            "vec_id",
            "corpus_semantic_dup",
            "intra_batch_semantic_dup",
        )
        write_batch(rejected.coalesce(8), self.out_dir, batch_id)
        # slices of the checkpointed batch frames — not a third GEMM
        for name, frame in _semantic_index_slice(
            kept.select("vec_id", "embedding"),
            asg_new.join(keepers, "vec_id"),
        ).items():
            write_batch(frame, f"{self.base}/{name}", batch_id)


class QualityDriftMonitor:
    """foreachBatch handler for streaming corpus-quality DRIFT
    detection (r9): each micro-batch releases its quality-score
    decile histogram plus batch mean — mergeable summaries, so the
    stream-lifetime distribution recomposes exactly from the releases
    — and ``quality_drift_from_releases`` runs a two-sided CUSUM over
    the sequence of batch means against the reference mean (the first
    batch, or a supplied baseline). The ingest tripwire for "the
    crawler started pulling a worse shelf": a mean shift accumulates
    linearly in the CUSUM while batch-local noise cancels.

    Deterministic end to end (quality_columns is pure arithmetic;
    CUSUM is a fold over batch_id order), so replays re-derive
    byte-identical releases; writes are the engine's
    batch_id-partitioned dynamic-overwrite shape."""

    def __init__(self, out_dir: str) -> None:
        self.out_dir = out_dir

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..pipelines.text import quality_columns

        q = quality_columns()["quality_score"]
        scored = batch_df.filter(F.col("text").isNotNull()).select(
            q.alias("score")
        )
        # decile histogram + count + exact mean numerator (sum of the
        # round-6 scores as DECIMAL — order-independent, mergeable)
        release = scored.groupBy(
            F.least(
                F.floor(F.col("score") * 10).cast("int"), F.lit(9)
            ).alias("decile")
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.col("score").cast("decimal(28,6)")).alias(
                "score_sum"
            ),
        )
        write_batch(release.coalesce(1), self.out_dir, batch_id)


def quality_drift_from_releases(
    spark: SparkSession, out_dir: str, slack: float = 0.01
) -> DataFrame:
    """Two-sided CUSUM over the released batch means, referenced to
    the FIRST batch's mean: cusum_hi accumulates (mean_b − ref −
    slack)+, cusum_lo accumulates (ref − mean_b − slack)+ — the
    standard mean-shift detector, fold-identical to daily_ewma_cusum's
    machinery but keyed by batch_id. Also recomposes the lifetime
    decile histogram (counts merge losslessly). Output: one row per
    batch — batch_id, n_docs, mean_score, cusum_hi, cusum_lo."""
    rel = spark.read.parquet(out_dir)
    per_batch = rel.groupBy("batch_id").agg(
        F.sum("n").cast("long").alias("n_docs"),
        (
            F.sum("score_sum").cast("double")
            / F.sum("n").cast("double")
        ).alias("mean_score"),
    )
    series = per_batch.groupBy().agg(
        F.array_sort(
            F.collect_list(
                F.struct("batch_id", "n_docs", "mean_score")
            )
        ).alias("s")
    )
    folded = series.select(
        F.expr(
            f"""
            aggregate(
              s,
              struct(CAST(NULL AS DOUBLE) AS ref,
                     CAST(0.0 AS DOUBLE) AS hi,
                     CAST(0.0 AS DOUBLE) AS lo,
                     CAST(array() AS ARRAY<STRUCT<batch_id: BIGINT,
                       n_docs: BIGINT, mean_score: DOUBLE,
                       cusum_hi: DOUBLE, cusum_lo: DOUBLE>>) AS out),
              (acc, b) -> struct(
                coalesce(acc.ref, b.mean_score) AS ref,
                greatest(0.0D, acc.hi + b.mean_score
                  - coalesce(acc.ref, b.mean_score) - {slack}) AS hi,
                greatest(0.0D, acc.lo
                  + coalesce(acc.ref, b.mean_score) - b.mean_score
                  - {slack}) AS lo,
                array_append(acc.out, struct(
                  b.batch_id AS batch_id, b.n_docs AS n_docs,
                  round(b.mean_score, 6) AS mean_score,
                  round(greatest(0.0D, acc.hi + b.mean_score
                    - coalesce(acc.ref, b.mean_score) - {slack}),
                    6) AS cusum_hi,
                  round(greatest(0.0D, acc.lo
                    + coalesce(acc.ref, b.mean_score) - b.mean_score
                    - {slack}), 6) AS cusum_lo)) AS out),
              acc -> acc.out
            )
            """
        ).alias("out")
    )
    return folded.select(F.explode("out").alias("o")).select(
        F.col("o.batch_id").alias("batch_id"),
        F.col("o.n_docs").alias("n_docs"),
        F.col("o.mean_score").alias("mean_score"),
        F.col("o.cusum_hi").alias("cusum_hi"),
        F.col("o.cusum_lo").alias("cusum_lo"),
    )


def init_novelty_index(
    spark: SparkSession, documents: DataFrame, base_path: str
) -> None:
    """Seed the gram index for the streaming novelty monitor: the
    DISTINCT 60-bit 5-gram hashes of the seed corpus."""
    from ..pipelines.text import _norm_tokens, gram_hash_set

    seed_index(
        documents.filter(F.col("text").isNotNull())
        # token array projected once per row (r15, guide §4.1 — see
        # text.repetition_stats)
        .select(_norm_tokens().alias("__toks"))
        .select(F.explode(gram_hash_set(toks=F.col("__toks"))).alias("g"))
        .distinct(),
        f"{base_path}/grams",
    )


class NoveltyMonitor:
    """foreachBatch handler for streaming NOVELTY-COLLAPSE detection
    (r10): each micro-batch releases the fraction of its distinct
    5-gram hashes never seen by any earlier batch (or the seed
    corpus). A healthy heterogeneous crawl keeps novelty high; a
    templated spam flood, a crawler stuck re-fetching one shelf, or an
    upstream dedup failure all show as novelty collapsing toward 0 —
    the batch-grain complement of the per-doc ngram_novelty audit and
    the third member of the ingest-gate family next to the Benford
    and quality-drift monitors.

    Per batch: distinct gram hashes (hashed at birth — narrow rows),
    ONE left-anti join against the persisted gram index (pruned to
    batch_id < current, so a replayed batch never sees its own
    grams), one release row, and an idempotent append of the novel
    grams into the index. Deterministic end to end; both writes are
    batch_id-partitioned dynamic overwrites, so crash-replay
    re-derives byte-identical state. Alert when novelty_rate <
    ``alert_below`` on a non-trivial batch.

    100 TB shape: the index is gram-grain and grows with corpus
    novelty — the anti-join shuffles on the 60-bit hash (balanced by
    construction); at scale the index is a bucketed table so the join
    is co-located, and the per-batch cost is batch-grams ×
    log(index), never a scan of the raw corpus."""

    ALERT_BELOW = 0.05

    def __init__(self, base_path: str, out_dir: str) -> None:
        self.base = base_path
        self.out_dir = out_dir

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..pipelines.text import _norm_tokens, gram_hash_set

        spark = batch_df.sparkSession
        docs = batch_df.filter(F.col("text").isNotNull())
        grams = (
            # token array projected once per row (r15, guide §4.1)
            docs.select(_norm_tokens().alias("__toks"))
            .select(
                F.explode(gram_hash_set(toks=F.col("__toks"))).alias("g")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        seen = read_index(spark, f"{self.base}/grams", batch_id).select("g")
        novel = grams.join(seen, "g", "left_anti").localCheckpoint(
            eager=True
        )
        n_docs = docs.count()
        n_grams = grams.count()
        n_novel = novel.count()
        rate = round(n_novel / n_grams, 6) if n_grams else None
        release = spark.createDataFrame(
            [
                (
                    n_docs,
                    n_grams,
                    n_novel,
                    rate,
                    bool(
                        n_grams > 0
                        and rate is not None
                        and rate < self.ALERT_BELOW
                    ),
                )
            ],
            "n_docs long, n_grams long, novel_grams long, "
            "novelty_rate double, alert boolean",
        )
        write_batch(release.coalesce(1), self.out_dir, batch_id)
        write_batch(novel.coalesce(4), f"{self.base}/grams", batch_id)


def init_keyness_index(
    spark: SparkSession, documents: DataFrame, base_path: str
) -> None:
    """Seed the (source, token, cnt) lifetime index for the streaming
    keyness-drift monitor (lifetime totals at batch N are the SUM over
    batch_id < N partitions — counts merge by addition, so the state is
    mergeable and replay-stable)."""
    from ..pipelines.text import source_token_counts

    seed_index(source_token_counts(documents), f"{base_path}/counts")


class KeynessDriftMonitor:
    """foreachBatch handler for per-source VOCABULARY-DRIFT detection
    (r11, VERDICT r10 next #7): each micro-batch releases, per source,
    the Dunning G² of the batch's vocabulary against the lifetime
    index — the ingest-gate family member that catches a source whose
    LANGUAGE shifts (template swap, spam injection, crawler landing on
    the wrong site) even when its volume, quality scores, and novelty
    rate hold steady. Fourth member of the family next to the Benford,
    quality-drift, and novelty-collapse monitors; all drift arithmetic
    lives in pipelines.text.keyness_drift, gated by the oracle-checked
    batch twin ``text_keyness_drift``.

    Per batch: one (source, token) count aggregate over the batch, one
    read of the lifetime index pruned to batch_id < current (a replayed
    batch never sees its own counts), the keyness_drift release, and an
    idempotent append of the batch counts into the index. State is
    MERGEABLE — lifetime totals are the sum of per-batch count
    partitions, so compaction (re-summing old partitions into one)
    changes nothing.

    100 TB shape: the index is (source, token) vocabulary grain —
    Heaps-sublinear in the corpus; the per-batch join touches only the
    batch's own vocabulary (left join, batch side filtered to
    min_count first), never the full index row set beyond the keyed
    lookup."""

    def __init__(self, base_path: str, out_dir: str) -> None:
        self.base = base_path
        self.out_dir = out_dir

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..pipelines.text import keyness_drift, source_token_counts

        spark = batch_df.sparkSession
        batch_counts = source_token_counts(batch_df).localCheckpoint(
            eager=True
        )
        lifetime = read_totals(
            spark, f"{self.base}/counts", batch_id, "source", "token"
        )
        release = keyness_drift(batch_counts, lifetime)
        write_batch(release.coalesce(1), self.out_dir, batch_id)
        write_batch(batch_counts.coalesce(4), f"{self.base}/counts", batch_id)

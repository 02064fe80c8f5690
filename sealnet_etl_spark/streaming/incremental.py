"""Incremental (streaming) top-k similarity — the PAPERS.md signal
(incremental top-k / streaming similarity, SURVEY.md §0.4) made concrete:
the embedding corpus arrives as a stream, and a per-label top-k of cosine
similarity against a fixed query vector is maintained in typed state
across micro-batches, emitting the refined top-k after every batch.

Scale shape: state per key is exactly k (cos, vec_id) pairs — O(k·|labels|)
total, independent of stream length; each batch does one numpy pass over
its Arrow chunk. This is the serving-side pattern for "keep the best
matches so far" over an unbounded ingest feed.
"""

from __future__ import annotations

import random
from collections import Counter

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..registry import query
from ..sources.store import exists, remove, store_path, write_once
from ..sources.tables import (
    data_files,
    fan_out_small_input,
    input_bytes,
    load_table,
)
from ..operators.ivf import (
    IVF_ORACLE_CTES,
    IVF_SPLIT_TOP,
    _ivf_assign_cells,
    _ivf_frozen_seeds,
    _ivf_int_vectors,
    micro_units,
)
from .replay import drain, ntile_chunks, replay_dir, run_available_now

EMBED_DIM = 64
TOP_K = 3

_rng = random.Random(99)
#: Seed-pinned probe vector, rounded so the SQL oracle can inline the
#: identical literals.
QUERY_VECTOR: list[float] = [round(_rng.gauss(0.0, 1.0), 6) for _ in range(EMBED_DIM)]

EMB_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

TOPK_OUT_SCHEMA = T.StructType(
    [
        T.StructField("label", T.IntegerType()),
        T.StructField("vec_id", T.LongType()),
        T.StructField("cos_sim", T.DoubleType()),
        T.StructField("n_seen", T.LongType()),
    ]
)
TOPK_STATE_SCHEMA = T.StructType(
    [
        T.StructField("vec_ids", T.ArrayType(T.LongType())),
        T.StructField("sims", T.ArrayType(T.DoubleType())),
        T.StructField("n_seen", T.LongType()),
    ]
)


def _topk_stateful(key, pdf_iter, state):
    """Merge each batch's vectors into the per-label running top-k.

    Ranking key is (rounded cos DESC, vec_id ASC) — the engine-wide
    determinism discipline — so the final state is independent of how the
    stream was chunked."""
    import numpy as np

    q = np.array(QUERY_VECTOR, dtype=np.float64)
    qn = float(np.sqrt((q * q).sum()))
    if state.exists:
        vec_ids, sims, n_seen = state.get
        best = list(zip(sims, vec_ids))
    else:
        best, n_seen = [], 0
    for pdf in pdf_iter:
        m = np.array(list(pdf["embedding"]), dtype=np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        cos = np.round(m @ q / (norms * qn), 6)
        n_seen += len(pdf)
        best.extend(zip(cos.tolist(), pdf["vec_id"].tolist()))
        best.sort(key=lambda p: (-p[0], p[1]))
        best = best[:TOP_K]
    state.update(([v for _, v in best], [s for s, _ in best], n_seen))
    yield pd.DataFrame(
        {
            "label": [key[0]] * len(best),
            "vec_id": [v for _, v in best],
            "cos_sim": [s for s, _ in best],
            "n_seen": [n_seen] * len(best),
        }
    )


def embeddings_replay_dir(spark: SparkSession, sf_dir: str, n_chunks: int = 2) -> str:
    """Replay the embeddings table as n_chunks vec_id-ordered chunks."""
    return replay_dir(
        spark,
        sf_dir,
        "embeddings",
        lambda emb: ntile_chunks(
            # null vectors crash the numpy batch
            emb.filter(F.col("embedding").isNotNull()), n_chunks, "vec_id"
        ),
        "ntile",
        n_chunks,
    )


_QV_SQL = "[" + ", ".join(str(x) for x in QUERY_VECTOR) + "]::DOUBLE[]"


@query(
    "str_incremental_topk_similarity",
    survey_id="STR-6/LLM-4",
    oracle=f"""
        SELECT label, vec_id,
               ROUND(list_cosine_similarity(embedding::DOUBLE[], {_QV_SQL}), 6)
                   AS cos_sim
        FROM embeddings
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY label
            ORDER BY ROUND(list_cosine_similarity(embedding::DOUBLE[], {_QV_SQL}), 6)
                         DESC,
                     vec_id
        ) <= {TOP_K}
    """,
)
def str_incremental_topk_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming incremental top-k: the corpus streams in 2
    micro-batches (chunk count trades replay realism against per-run
    micro-batch cost; determinism is chunking-independent either way);
    per-label state holds the best k (cos, vec_id) pairs
    seen so far and every batch emits the refined top-k. After the stream
    drains, the rows emitted at each label's final n_seen are exactly the
    batch top-k — which the oracle states. Deterministic regardless of
    chunking because ranking uses rounded cos + id tiebreak."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    replay = embeddings_replay_dir(spark, sf_dir)
    stream = (
        spark.readStream.schema(EMB_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )
    emissions = stream.groupBy("label").applyInPandasWithState(
        _topk_stateful,
        outputStructType=TOPK_OUT_SCHEMA,
        stateStructType=TOPK_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drained = run_available_now(
        emissions, sf_dir, "str_incremental_topk_sim", output_mode="update"
    )
    final_per_label = (
        drained.groupBy("label")
        .agg(F.max("n_seen").alias("n_final"))
        .withColumnRenamed("label", "f_label")
    )
    return (
        drained.join(
            final_per_label,
            (F.col("label") == F.col("f_label"))
            & (F.col("n_seen") == F.col("n_final")),
        )
        .select("label", "vec_id", "cos_sim")
    )


# ---------------------------------------------------------------------------
# Streaming near-dup: MinHash probe of a persisted index, per micro-batch
# ---------------------------------------------------------------------------

#: Documents replay chunk count. 3 chunks (not the events replay's 2) so
#: the persisted index demonstrably ACCUMULATES: batch 1 probes chunk 0,
#: batch 2 probes chunks 0+1 — the second probe reads state no single
#: batch wrote. Chunk membership is doc_id % N — a pure function the SQL
#: oracle recomputes, unlike an arrival-time split.
N_DOC_CHUNKS = 3

def _docs_replay_dir(spark: SparkSession, sf_dir: str) -> str:
    # source/lang ride along for the contamination and quality monitors;
    # near-dup's readStream schema names only (doc_id, text), so parquet
    # by-name column pruning keeps its input unchanged
    return replay_dir(
        spark,
        sf_dir,
        "documents",
        lambda docs: [
            docs.select("doc_id", "source", "lang", "text").filter(
                F.pmod("doc_id", F.lit(N_DOC_CHUNKS)) == i
            )
            for i in range(N_DOC_CHUNKS)
        ],
        "mod",
        N_DOC_CHUNKS,
    )


from ..operators.dedup import (  # noqa: E402
    HOT_BUCKET_CAP,
    JACCARD_TAU,
    SHINGLE_K,
    jaccard,
    minhash_band_keys,
    minhash_signatures_arrow,
    normalized_words,
    shingle_base_hashes,
    shingle_postings,
    word_shingles,
)

_STREAM_NEAR_DUP_ORACLE = rf"""
    WITH toks AS (
        SELECT doc_id, doc_id % {N_DOC_CHUNKS} AS chunk,
               list_distinct(list_transform(range(len(w) - {SHINGLE_K - 1}),
                   i -> array_to_string(w[i+1:i+{SHINGLE_K}], ' '))) AS sh
        FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
              FROM documents)
        WHERE len(w) >= {SHINGLE_K}
    )
    SELECT p.doc_id AS doc_prior, n.doc_id AS doc_new,
           ROUND(len(list_intersect(n.sh, p.sh))::DOUBLE
                 / (len(n.sh) + len(p.sh) - len(list_intersect(n.sh, p.sh))),
                 6) AS jaccard
    FROM toks p JOIN toks n ON p.chunk < n.chunk
    WHERE len(list_intersect(n.sh, p.sh))::DOUBLE
          / (len(n.sh) + len(p.sh) - len(list_intersect(n.sh, p.sh)))
          >= {JACCARD_TAU}
"""


@query(
    "str_streaming_near_dup",
    survey_id="STR-8/LLM-2",
    oracle=_STREAM_NEAR_DUP_ORACLE,
)
def str_streaming_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-duplicate detection: documents arrive as
    micro-batches; each batch is MinHash-probed against a PERSISTED LSH
    index + shingle store covering every EARLIER batch, then appended to
    both — the continuous-ingestion deployment of
    llm_incremental_near_dup, where the 'prior corpus' is not a fixed
    artifact but the accumulated stream itself.

    foreachBatch mechanics (the write-ahead-by-batchId pattern of
    str_foreach_batch_upsert): each batch writes its band keys, shingle
    sets, and verified pairs under ``chunk=<batch_id>`` partitions with
    per-partition overwrite, so a crash-replayed batch rewrites the SAME
    partitions — idempotent on plain parquet. Probes read only
    partitions with chunk < batch_id, which also excludes a half-written
    current batch. Per-batch cost is O(batch) signatures + an 8-byte
    band-key join against the index. Hot buckets are capped both sides
    by TRUNCATION at the HOT_BUCKET_CAP lowest ids per band key — the
    same accepted pair-recall trade as llm_incremental_near_dup's
    incremental probe (NOT the one-shot op's chained pairing, which
    preserves hot-bucket connectivity; a corpus with > CAP docs sharing
    a band key loses cross-cap pairs here, as it does in the batch
    incremental path). Earlier batches are NEVER re-shingled — their
    shingle store is read only to verify the candidates the index
    surfaced.

    Replay is 3 chunks keyed doc_id % 3 (deterministic, so the oracle —
    the brute-force cross-chunk Jaccard join — recomputes membership);
    batch 2's probe hits state accumulated across TWO prior batches.
    Within-batch pairs are by design not emitted (the one-shot batch
    operator owns those). Banding recall at J ≥ 0.8 is the documented
    ≥ 0.9997, which is why the exact oracle still hash-matches."""
    replay = _docs_replay_dir(spark, sf_dir)
    root = store_path(spark, "scratch", sf_dir, "str_streaming_near_dup")
    remove(spark, root)
    index_store = f"{root}/index"
    shingle_store = f"{root}/shingles"
    results_store = f"{root}/report"

    def _cap(df: DataFrame, id_col: str) -> DataFrame:
        w = Window.partitionBy("band_key").orderBy(id_col)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= HOT_BUCKET_CAP)
            .drop("__rn")
        )

    # Corpus-sized partitioning for every shingle-carrying stage inside
    # the trigger (round 9 — the minhash pipeline's rule, found the same
    # way: a measured sf100 OOM at the default heap). A replay batch is
    # one coalesced file, so the file scan splits it into only 2-3 tasks
    # (maxPartitionBytes), and the shingle+signature stage then holds
    # multi-GB partitions; the verify join likewise inherits the session
    # default for both shingle-carrying sides. n_batch sizes the batch's
    # own stages (bytes/chunks), n_full the accumulated-prior join side.
    from ..operators.dedup import _partitions_for_bytes

    _default = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    _doc_bytes = input_bytes(spark, f"{sf_dir}/documents.parquet")
    n_batch = _partitions_for_bytes(
        -(-_doc_bytes // N_DOC_CHUNKS), _default
    )
    n_full = _partitions_for_bytes(_doc_bytes, _default)

    def _sized(df: DataFrame, n: int, col: str) -> DataFrame:
        # identity at bench/graded scale (n == session default keeps the
        # certified physical plan byte-for-byte); explicit key exchange
        # only once the corpus-sized count exceeds the default
        return df.repartition(n, col) if n > _default else df

    # Store-write parallelism: 2 files per chunk at bench scale (the
    # small-files rationale below), but corpus-sized once a chunk's
    # shingles/band-keys are GBs — coalesce(2) at sf100 wrote multi-GB
    # files whose row-group read buffers then OOMed the probe's THREE
    # concurrent 32-task parquet scans (measured round 9: the vectored
    # IO allocation stack). Bounded files bound the read-side buffers.
    w_store = 2 if n_batch <= _default else n_batch

    # The third sf100 wall (SCALE.md round 9, fixed round 10): even with
    # corpus-sized stages and bounded store files, the probe's verify
    # join runs TWO shingle-carrying parquet scan stages concurrently
    # over the same 32 local task slots, and each in-flight task holds
    # one DECODED columnar batch — 4096 rows x ~10 KB of shingle strings
    # ≈ 40 MB per task, x32 tasks x2 stages ≈ 2.6 GB of transient batch
    # buffers plus up-to-128 MiB-per-split vectored row-group reads: the
    # measured probe-side scan OOM at the default 8 g heap. Past the
    # same size gate as the other two fixes, bound BOTH terms for the
    # duration of the stream: 512-row reader batches (~5 MB/task) and
    # 16 MiB scan splits. Graded/bench scale never enters the gate, so
    # certified plans and session confs are byte-identical; on a real
    # cluster the 32-tasks-one-heap sharing doesn't exist and the
    # defaults stand.
    # defaults stand. Scoping (ADVICE r10): the overrides apply to an
    # ISOLATED spark.newSession() (own SQLConf over the shared
    # SparkContext) that only this stream uses — never set/restore on
    # the caller's session, where a concurrently-running query would
    # execute under the shrunken scan settings and the finally-restore
    # could clobber a concurrent conf change. newSession() inherits the
    # build-time spark.sql.* confs from the SparkContext conf, so the
    # certified shuffle sizing carries over; below the gate the stream
    # runs on the caller's session untouched.
    _scan_confs = (
        {
            "spark.sql.parquet.columnarReaderBatchSize": "512",
            "spark.sql.files.maxPartitionBytes": str(16 << 20),
        }
        if n_batch > _default
        else {}
    )
    stream_spark = spark
    if _scan_confs:
        stream_spark = spark.newSession()
        # newSession() inherits only the BUILD-TIME SparkContext confs; when
        # the grading driver hands us an externally built session, the
        # RUNTIME_CONFS it received at runtime (adaptive, Arrow, UTC,
        # nanosAsLong) would not carry into the isolated session — re-apply
        # them before layering the scan overrides (ADVICE r11).
        from ..session import apply_runtime_confs

        apply_runtime_confs(stream_spark)
        for k, v in _scan_confs.items():
            stream_spark.conf.set(k, v)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        words = normalized_words(F.col("text"))
        shingled = (
            _sized(batch_df, n_batch, "doc_id")
            .withColumn("__w", words)
            .filter(F.size("__w") >= SHINGLE_K)
            .withColumn("shingles", word_shingles(F.col("__w"), SHINGLE_K))
            .select("doc_id", "shingles")
            .withColumn("__base", shingle_base_hashes(F.col("shingles")))
            .localCheckpoint()
        )
        # signatures via the Arrow kernel (3.8x on the
        # signature->banding stage, OPTIMIZATION_r12.md)
        keys = minhash_signatures_arrow(shingled).select(
            "doc_id", F.explode(minhash_band_keys()).alias("band_key")
        )
        # Write the chunk's band keys BEFORE probing and read them back for
        # the probe side (r7 itemization): `keys` used to feed both the
        # candidate join and the index write, and each consumer recomputed
        # the 128-hash signature stage from the checkpointed base — the
        # persist-multi-consumer rule, paid once per batch. The probe
        # filters chunk < batch_id, so the just-written own partition is
        # invisible to it and write-ahead idempotency is unchanged (a
        # crash-replayed batch rewrites the same partition either way).
        keys.coalesce(w_store).write.mode("overwrite").parquet(
            f"{index_store}/chunk={batch_id}"
        )

        if batch_id > 0 and exists(spark, index_store):
            index = stream_spark.read.parquet(index_store)
            new_keys = index.filter(F.col("chunk") == batch_id).select(
                F.col("doc_id").alias("doc_new"), "band_key"
            )
            # Prune the accumulated index to band keys the batch actually
            # probes BEFORE the hot-bucket cap window (r7): the cap picks
            # the HOT_BUCKET_CAP lowest prior ids PER BAND KEY, so dropping
            # band keys absent from the batch removes no row of any probed
            # key — output-identical — while the window now shuffles
            # O(batch-matched) keys instead of re-windowing the ENTIRE
            # index every trigger (the O(corpus)-per-batch shape that
            # would dominate at 100 TB; batch band keys broadcast).
            batch_band_keys = new_keys.select("band_key").distinct()
            prior_keys = (
                index.filter(F.col("chunk") < batch_id)
                .join(F.broadcast(batch_band_keys), "band_key", "left_semi")
                .withColumnRenamed("doc_id", "doc_prior")
            )
            cand = (
                _cap(prior_keys, "doc_prior")
                .join(_cap(new_keys, "doc_new"), "band_key")
                .select("doc_prior", "doc_new")
                .distinct()
            )
            # both verify-join sides carry shingle arrays: explicit
            # key-repartition at the corpus-sized counts so the join
            # reuses them instead of re-exchanging to the session
            # default (the minhash verify-join rule)
            prior_sh = (
                stream_spark.read.parquet(shingle_store)
                .filter(F.col("chunk") < batch_id)
                .select(
                    F.col("doc_id").alias("doc_prior"),
                    F.col("shingles").alias("sh_prior"),
                )
                .transform(lambda d: _sized(d, n_full, "doc_prior"))
            )
            jac = jaccard(F.col("sh_prior"), F.col("shingles"))
            verified = (
                cand.join(prior_sh, "doc_prior")
                .join(
                    _sized(
                        shingled.select(
                            F.col("doc_id").alias("doc_new"), "shingles"
                        ),
                        n_batch,
                        "doc_new",
                    ),
                    "doc_new",
                )
                .filter(jac >= JACCARD_TAU)
                .select(
                    "doc_prior", "doc_new", F.round(jac, 6).alias("jaccard")
                )
            )
            # coalesce(2): a micro-batch's pair/index/shingle frames are
            # tiny relative to the default 32 shuffle partitions — without
            # this every batch writes 3 × 32 near-empty files and pays the
            # task+commit overhead (the small-files problem, self-inflicted
            # per batch); 2 keeps a sliver of write parallelism while a
            # real deployment would size this to batch volume
            verified.coalesce(2).write.mode("overwrite").parquet(
                f"{results_store}/chunk={batch_id}"
            )
        shingled.select("doc_id", "shingles").coalesce(w_store).write.mode(
            "overwrite"
        ).parquet(f"{shingle_store}/chunk={batch_id}")

    stream = (
        stream_spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )
    drain(stream, process, f"{root}/ckpt")
    return _read_report(
        spark, results_store, "doc_prior long, doc_new long, jaccard double"
    )


def _read_report(spark: SparkSession, store: str, schema: str) -> DataFrame:
    """A monitor's report store read with the schema its body wrote, in
    that schema's column order (a ``chunk`` partition column typed there
    is parsed as that type), or an empty frame of it when no batch
    wrote one."""
    if not exists(spark, store):
        return spark.createDataFrame([], schema)
    names = [field.split()[0] for field in schema.split(",")]
    return spark.read.schema(schema).parquet(store).select(*names)


def _eval_postings(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    is_eval: Column,
    doc_bytes: int,
    n_files: int,
) -> str:
    """Path of the persisted eval-benchmark postings of a contamination
    monitor: the distinct shingles ``s`` of the documents matching
    ``is_eval``, written once per (session, corpus) to the monitor's own
    ``eval_postings`` store as ``n_files`` files."""

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        eval_docs = fan_out_small_input(spark, docs.filter(is_eval), doc_bytes)
        (
            shingle_postings(spark, eval_docs, SHINGLE_K)
            .select(F.col("sh").alias("s"))
            .distinct()
            .coalesce(n_files)
            .write.mode("overwrite")
            .parquet(path)
        )

    return write_once(
        store_path(spark, "eval_postings", f"{sf_dir}/documents.parquet", name),
        build,
    )


_STREAM_CONTAM_ORACLE = rf"""
    WITH toks AS (
        SELECT doc_id,
               list_distinct(list_transform(range(len(w) - {SHINGLE_K - 1}),
                   i -> array_to_string(w[i+1:i+{SHINGLE_K}], ' '))) AS sh
        FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
              FROM documents)
        WHERE len(w) >= {SHINGLE_K}
    ), ev AS (
        SELECT DISTINCT unnest(sh) AS s FROM toks WHERE doc_id % 7 = 0
    ), trs AS (
        SELECT doc_id, unnest(sh) AS s FROM toks WHERE doc_id % 7 <> 0
    ), hits AS (
        SELECT trs.doc_id, COUNT(DISTINCT trs.s) AS n_sh
        FROM trs JOIN ev ON trs.s = ev.s
        GROUP BY trs.doc_id
    )
    SELECT CAST(tr.doc_id % {N_DOC_CHUNKS} AS BIGINT) AS chunk,
           d.source,
           COUNT(*)                             AS n_train_docs,
           COUNT(h.doc_id)                      AS n_contaminated,
           CAST(COUNT(h.doc_id) * 1000000 // COUNT(*)
                AS BIGINT)                      AS contamination_micro,
           CAST(COALESCE(SUM(h.n_sh), 0)
                AS BIGINT)                      AS n_shared_shingles
    FROM (SELECT doc_id FROM toks WHERE doc_id % 7 <> 0) tr
    JOIN documents d USING (doc_id)
    LEFT JOIN hits h ON tr.doc_id = h.doc_id
    GROUP BY 1, d.source
"""


#: Both contamination monitors' per-(batch, source) report.
_CONTAM_REPORT = (
    "chunk bigint, source string, n_train_docs bigint, "
    "n_contaminated bigint, contamination_micro bigint, "
    "n_shared_shingles bigint"
)


@query(
    "str_contamination_monitor",
    survey_id="STR-8/LLM-2/ETL-6",
    oracle=_STREAM_CONTAM_ORACLE,
)
def str_contamination_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming contamination monitor: each arriving micro-batch of
    training documents is probed against the PERSISTED eval-benchmark
    shingle postings, and a per-(batch, source) contamination row is
    appended — the foreachBatch twin of llm_contamination_report
    (VERDICT r8 #7), completing the batch→streaming pattern the
    near-dup family already has. The batch report answers "did THIS
    ingest leak benchmark text, from which source" while the data is
    still quarantine-able, instead of after the corpus is assembled.

    Plan per trigger: the eval postings are built ONCE before the
    stream starts (the benchmark suite is a fixed artifact) and
    force-broadcast into each batch's probe join — the exact
    llm_contamination_report doctrine (a real probe is fixed-size, so
    the broadcast is constant at any corpus scale); the batch side
    shingles ONLY its own docs (O(batch), never re-scanning earlier
    batches) and reduces to |sources| rows per trigger. Results write
    under ``chunk=<batch_id>`` partitions with per-partition overwrite
    (the write-ahead-by-batchId pattern) — a crash-replayed batch
    rewrites the SAME partition, idempotent on plain parquet. Batches
    are independent BY SEMANTICS (each probes the static eval set, not
    the other batches), so no cross-batch state store is needed at all.

    Replay is the near-dup family's 3-chunk doc_id % 3 split, so the
    oracle recomputes batch membership exactly; integer columns and an
    exact floor rate make the per-batch rows bit-comparable."""
    replay = _docs_replay_dir(spark, sf_dir)
    root = store_path(spark, "scratch", sf_dir, "str_contamination_monitor")
    remove(spark, root)
    results_store = f"{root}/report"

    # the persisted eval postings: distinct shingles of the (static)
    # held-out eval docs — an eval-postings store written ONCE per
    # process per corpus, because the benchmark suite is a fixed
    # artifact a deployment refreshes only when it changes; every later
    # monitor invocation (bench reruns, repeated triggers across
    # restarts) reads it back
    doc_bytes = input_bytes(spark, f"{sf_dir}/documents.parquet")
    eval_store = _eval_postings(
        spark, sf_dir, "contam", F.col("doc_id") % 7 == 0, doc_bytes, 2
    )

    # Corpus-sized batch-stage partitioning (the streaming near-dup's r9
    # rule, found the same way — measured at the sf100 decade): a replay
    # batch is ONE coalesced file, so its shingle stage otherwise runs on
    # the 2-3 scan-split tasks and the localCheckpoint holds multi-GB
    # shingle partitions. Identity at graded/bench scale (gate keeps the
    # certified plan byte-for-byte).
    from ..operators.dedup import _partitions_for_bytes

    _default = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    n_batch = _partitions_for_bytes(-(-doc_bytes // N_DOC_CHUNKS), _default)

    evp = spark.read.parquet(eval_store)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sized = (
            batch_df.repartition(n_batch, "doc_id")
            if n_batch > _default
            else batch_df
        )
        train = sized.filter(F.col("doc_id") % 7 != 0)
        # postings via the Arrow kernel (the llm_decontaminate round-10
        # rewrite: the interpreted-HOF array build was ~97% of the probe
        # wall and postings consumers never need the arrays); the
        # denominators need only membership (size(words) >= K), a narrow
        # filter — so the localCheckpoint that existed to share the
        # array column between the two consumers is gone too
        postings = shingle_postings(spark, train, SHINGLE_K).select(
            "doc_id", F.col("sh").alias("s")
        )
        members = train.filter(
            F.size(normalized_words(F.col("text"))) >= SHINGLE_K
        ).select("doc_id", "source")
        hits = (
            postings.join(F.broadcast(evp), "s")
            .groupBy("doc_id")
            .agg(F.countDistinct("s").alias("n_sh"))
        )
        report = (
            members.join(hits, "doc_id", "left")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_train_docs"),
                F.count("n_sh").alias("n_contaminated"),
                F.sum(F.coalesce(F.col("n_sh"), F.lit(0)))
                .cast("bigint")
                .alias("n_shared_shingles"),
            )
            .select(
                "source",
                "n_train_docs",
                "n_contaminated",
                F.expr("n_contaminated * 1000000 div n_train_docs").alias(
                    "contamination_micro"
                ),
                "n_shared_shingles",
            )
        )
        report.coalesce(1).write.mode("overwrite").parquet(
            f"{results_store}/chunk={batch_id}"
        )

    stream = (
        spark.readStream.schema("doc_id long, source string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )
    drain(stream, process, f"{root}/ckpt")
    return _read_report(spark, results_store, _CONTAM_REPORT)


def _stream_quality_oracle() -> str:
    from ..operators.textstats import _QUALITY_FILTER_ORACLE

    return rf"""
    WITH q AS ({_QUALITY_FILTER_ORACLE}),
    src AS (SELECT doc_id, source FROM documents)
    SELECT CAST(q.doc_id % {N_DOC_CHUNKS} AS BIGINT) AS chunk,
           s.source,
           COUNT(*)                                              AS n_docs,
           CAST(SUM(CASE WHEN q.keep THEN 1 ELSE 0 END)
                AS BIGINT)                                       AS n_pass,
           CAST(SUM(CASE WHEN q.keep THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT)                           AS pass_rate_micro,
           CAST(SUM(CASE WHEN NOT q.len_ok THEN 1 ELSE 0 END)
                AS BIGINT)                                       AS n_len_fail,
           CAST(SUM(CASE WHEN NOT q.lang_ok THEN 1 ELSE 0 END)
                AS BIGINT)                                       AS n_lang_fail,
           CAST(SUM(CASE WHEN NOT q.repetition_ok THEN 1 ELSE 0 END)
                AS BIGINT)                                       AS n_rep_fail,
           CAST(SUM(CASE WHEN NOT q.word_len_ok THEN 1 ELSE 0 END)
                AS BIGINT)                                       AS n_wlen_fail
    FROM q JOIN src s USING (doc_id)
    GROUP BY 1, s.source
"""


@query(
    "str_quality_monitor",
    survey_id="STR-8/LLM-9/ETL-6",
    oracle=_stream_quality_oracle(),
)
def str_quality_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quality-gate monitor: every arriving micro-batch is
    scored through the C4-style gates and reduced to per-(batch, source)
    pass rates + per-gate fail counts — the foreachBatch twin of
    llm_quality_trend, completing the monitoring trio (near-dup ✓,
    contamination ✓, quality ✓): a source whose pass rate drops in THIS
    batch is caught while the batch is still quarantine-able, and the
    per-gate fail columns say which gate moved. Gate and report
    expressions are llm_quality_trend's own (``textstats.QualityGates``),
    so the streaming and batch verdicts can never desynchronize; they are
    built once per call, so a trigger's driver work does not grow with
    the expression trees.

    Plan per trigger: one narrow feature pass over the batch's own docs
    (O(batch) — no state store, no cross-batch reads; the gates are
    per-doc by definition) with ``source`` riding through, and a
    map-side-combinable agg to |sources| rows. Results write under
    ``chunk=<batch_id>`` partitions with per-partition overwrite — the
    write-ahead-by-batchId idempotency pattern shared by the whole
    streaming monitoring family."""
    from ..operators.textstats import QualityGates

    replay = _docs_replay_dir(spark, sf_dir)
    root = store_path(spark, "scratch", sf_dir, "str_quality_monitor")
    remove(spark, root)
    results_store = f"{root}/report"
    gates = QualityGates()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        report = gates.report(gates.flags(batch_df))
        report.coalesce(1).write.mode("overwrite").parquet(
            f"{results_store}/chunk={batch_id}"
        )

    stream = (
        spark.readStream.schema(
            "doc_id long, source string, lang string, text string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )
    drain(stream, process, f"{root}/ckpt")
    return _read_report(
        spark,
        results_store,
        "chunk bigint, source string, n_docs bigint, n_pass bigint, "
        "pass_rate_micro bigint, n_len_fail bigint, n_lang_fail bigint, "
        "n_rep_fail bigint, n_wlen_fail bigint",
    )


# ---------------------------------------------------------------------------
# Round 10: fixed-size eval probe + mixture-conformance monitor
# ---------------------------------------------------------------------------

#: Size of the FIXED eval-benchmark probe (docs with doc_id < this are
#: the benchmark suite). The whole point of the _fixed monitor variant
#: (VERDICT r9 #3/#4): str_contamination_monitor's fixture probe is
#: corpus-proportional (doc_id % 7 — 1/7th of ANY corpus), so its decade
#: rows measure the fixture, not the deployment shape. A real benchmark
#: suite is a constant-size artifact; with a constant probe the
#: per-trigger cost is O(batch) by MEASUREMENT, not just by argument —
#: the broadcast postings stop growing with the corpus. 128 (not more):
#: the smallest graded fixture has 500 docs total, and the probe must
#: leave a real training side at EVERY graded SF.
EVAL_PROBE_N = 128

_FIXED_CONTAM_ORACLE = rf"""
    WITH toks AS (
        SELECT doc_id,
               list_distinct(list_transform(range(len(w) - {SHINGLE_K - 1}),
                   i -> array_to_string(w[i+1:i+{SHINGLE_K}], ' '))) AS sh
        FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
              FROM documents)
        WHERE len(w) >= {SHINGLE_K}
    ), ev AS (
        SELECT DISTINCT unnest(sh) AS s FROM toks
        WHERE doc_id < {EVAL_PROBE_N}
    ), trs AS (
        SELECT doc_id, unnest(sh) AS s FROM toks
        WHERE doc_id >= {EVAL_PROBE_N}
    ), hits AS (
        SELECT trs.doc_id, COUNT(DISTINCT trs.s) AS n_sh
        FROM trs JOIN ev ON trs.s = ev.s
        GROUP BY trs.doc_id
    )
    SELECT CAST(tr.doc_id % {N_DOC_CHUNKS} AS BIGINT) AS chunk,
           d.source,
           COUNT(*)                             AS n_train_docs,
           COUNT(h.doc_id)                      AS n_contaminated,
           CAST(COUNT(h.doc_id) * 1000000 // COUNT(*)
                AS BIGINT)                      AS contamination_micro,
           CAST(COALESCE(SUM(h.n_sh), 0)
                AS BIGINT)                      AS n_shared_shingles
    FROM (SELECT doc_id FROM toks WHERE doc_id >= {EVAL_PROBE_N}) tr
    JOIN documents d USING (doc_id)
    LEFT JOIN hits h ON tr.doc_id = h.doc_id
    GROUP BY 1, d.source
"""


@query(
    "str_contamination_monitor_fixed",
    survey_id="STR-8/LLM-2/ETL-6",
    oracle=_FIXED_CONTAM_ORACLE,
)
def str_contamination_monitor_fixed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """str_contamination_monitor with a FIXED-SIZE eval probe — the
    deployment shape stated as its own graded query (VERDICT r9 #4).
    The registered monitor's fixture probes doc_id % 7 — an eval set
    that grows WITH the corpus, so its decade wall-clock rows conflate
    the O(batch) trigger cost with a probe that is itself 1/7th of the
    corpus. Here the benchmark suite is the EVAL_PROBE_N lowest doc_ids
    — a constant 128-doc artifact at every corpus size, exactly like a
    real held-out benchmark — so the decade row demonstrates the
    documented claim directly: postings broadcast is constant, and
    per-trigger cost tracks the BATCH, not the corpus.

    Mechanics are identical to the registered monitor (its own
    eval-postings store, so the two monitors never serve each other's
    postings; chunk=<batch_id> per-partition overwrite idempotency;
    batch side shingles only its own docs). Integer columns + exact floor rate, bit-comparable to
    the brute-force oracle."""
    replay = _docs_replay_dir(spark, sf_dir)
    root = store_path(spark, "scratch", sf_dir, "str_contamination_monitor_fixed")
    remove(spark, root)
    results_store = f"{root}/report"

    doc_bytes = input_bytes(spark, f"{sf_dir}/documents.parquet")
    eval_store = _eval_postings(
        spark, sf_dir, "contam_fixed", F.col("doc_id") < EVAL_PROBE_N, doc_bytes, 1
    )

    # the registered monitor's corpus-sized batch-stage rule (one
    # coalesced replay file → 2-3 scan splits → multi-GB shingle
    # partitions in the localCheckpoint at the sf100 decade); identity
    # at graded/bench scale
    from ..operators.dedup import _partitions_for_bytes

    _default = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    n_batch = _partitions_for_bytes(-(-doc_bytes // N_DOC_CHUNKS), _default)

    evp = spark.read.parquet(eval_store)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sized = (
            batch_df.repartition(n_batch, "doc_id")
            if n_batch > _default
            else batch_df
        )
        train = sized.filter(F.col("doc_id") >= EVAL_PROBE_N)
        # the registered monitor's kernel-postings + narrow-membership
        # shape (see its process body)
        postings = shingle_postings(spark, train, SHINGLE_K).select(
            "doc_id", F.col("sh").alias("s")
        )
        members = train.filter(
            F.size(normalized_words(F.col("text"))) >= SHINGLE_K
        ).select("doc_id", "source")
        hits = (
            postings.join(F.broadcast(evp), "s")
            .groupBy("doc_id")
            .agg(F.countDistinct("s").alias("n_sh"))
        )
        report = (
            members.join(hits, "doc_id", "left")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_train_docs"),
                F.count("n_sh").alias("n_contaminated"),
                F.sum(F.coalesce(F.col("n_sh"), F.lit(0)))
                .cast("bigint")
                .alias("n_shared_shingles"),
            )
            .select(
                "source",
                "n_train_docs",
                "n_contaminated",
                F.expr("n_contaminated * 1000000 div n_train_docs").alias(
                    "contamination_micro"
                ),
                "n_shared_shingles",
            )
        )
        report.coalesce(1).write.mode("overwrite").parquet(
            f"{results_store}/chunk={batch_id}"
        )

    stream = (
        spark.readStream.schema("doc_id long, source string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )
    drain(stream, process, f"{root}/ckpt")
    return _read_report(spark, results_store, _CONTAM_REPORT)


_MIXTURE_MONITOR_ORACLE = rf"""
    WITH w AS (
        SELECT source, COUNT(*) AS w_docs FROM documents GROUP BY source
    ), tot AS (
        SELECT SUM(w_docs) AS total FROM w
    ), b AS (
        SELECT doc_id % {N_DOC_CHUNKS} AS chunk, source,
               COUNT(*) AS n_docs
        FROM documents GROUP BY 1, 2
    ), bt AS (
        SELECT chunk, SUM(n_docs) AS batch_total FROM b GROUP BY chunk
    )
    SELECT CAST(b.chunk AS BIGINT)                          AS chunk,
           b.source,
           CAST(b.n_docs AS BIGINT)                         AS n_docs,
           CAST(b.n_docs * 1000000 // bt.batch_total
                AS BIGINT)                                  AS share_micro,
           CAST(w.w_docs * 1000000 // tot.total
                AS BIGINT)                                  AS expected_micro,
           CAST(b.n_docs * 1000000 // bt.batch_total
                - w.w_docs * 1000000 // tot.total
                AS BIGINT)                                  AS dev_micro
    FROM b
    JOIN bt USING (chunk)
    JOIN w USING (source)
    CROSS JOIN tot
"""


@query(
    "str_mixture_monitor",
    survey_id="STR-8/LLM-3/ETL-6",
    oracle=_MIXTURE_MONITOR_ORACLE,
)
def str_mixture_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mixture-conformance monitor: every arriving micro-batch
    is reduced to per-(batch, source) REALIZED mixture shares and
    compared against the corpus-level target proportions — the
    foreachBatch twin of llm_schedule_evenness's planning view (VERDICT
    r9 #7) and the fourth panel of the streaming monitoring family
    (near-dup, contamination, quality, now mixture). The schedule
    queries prove the PLANNED interleave is even; this monitor catches
    the loader DRIFTING from it in production — a batch whose dev_micro
    spikes for one source means an upstream shard stalled or a source
    is flooding, while the batch is still quarantine-able.

    Plan per trigger: one map-side-combinable count agg over the batch's
    own docs (O(batch), no state store) joined to the TARGET weight
    table — |sources| rows, computed ONCE from the static corpus before
    the stream starts and broadcast into every trigger (the eval-
    postings discipline; a production target is a config artifact).
    All-integer shares with exact floor division; dev_micro is a signed
    bigint. Results write under chunk=<batch_id> with per-partition
    overwrite — the family's write-ahead idempotency pattern."""
    replay = _docs_replay_dir(spark, sf_dir)
    root = store_path(spark, "scratch", sf_dir, "str_mixture_monitor")
    remove(spark, root)
    results_store = f"{root}/report"

    # the target mixture: |sources| rows + the scalar total, tiny at any
    # corpus size — a config artifact a deployment loads, not data. It is
    # MATERIALIZED once before the stream starts (a bounded |sources|-row
    # collect, the two-phase partition-stats precedent): left lazy, every
    # trigger's join would re-run the corpus-wide count agg — exactly the
    # corpus-proportional-per-trigger shape this monitor exists to avoid.
    docs = load_table(spark, sf_dir, "documents")
    weights = docs.groupBy("source").agg(F.count(F.lit(1)).alias("w_docs"))
    total = weights.agg(F.sum("w_docs").alias("total"))
    target_rows = (
        weights.crossJoin(F.broadcast(total))
        .select(
            "source",
            F.expr("w_docs * 1000000 div total").alias("expected_micro"),
        )
        .collect()
    )
    target = spark.createDataFrame(
        target_rows, "source string, expected_micro bigint"
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        counts = batch_df.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs")
        )
        batch_total = counts.agg(F.sum("n_docs").alias("batch_total"))
        report = (
            counts.crossJoin(F.broadcast(batch_total))
            .join(F.broadcast(target), "source")
            .select(
                "source",
                F.col("n_docs").cast("bigint").alias("n_docs"),
                F.expr("n_docs * 1000000 div batch_total").alias(
                    "share_micro"
                ),
                "expected_micro",
                F.expr(
                    "n_docs * 1000000 div batch_total - expected_micro"
                ).alias("dev_micro"),
            )
        )
        report.coalesce(1).write.mode("overwrite").parquet(
            f"{results_store}/chunk={batch_id}"
        )

    stream = (
        spark.readStream.schema("doc_id long, source string")
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )
    drain(stream, process, f"{root}/ckpt")
    return _read_report(
        spark,
        results_store,
        "chunk bigint, source string, n_docs bigint, share_micro bigint, "
        "expected_micro bigint, dev_micro bigint",
    )


def _emb_drift_replay_dir(spark: SparkSession, sf_dir: str) -> str:
    """Embeddings replayed as N_DOC_CHUNKS vec_id % N chunks — the same
    pure-function chunking as the docs replay, so the SQL oracle
    recomputes batch membership exactly (ntile's order-dependent split,
    used by the top-k replay, is not SQL-stable across engines). Null
    vectors are dropped here, matching every similarity kernel's
    load_embeddings contract."""
    return replay_dir(
        spark,
        sf_dir,
        "embeddings",
        lambda emb: [
            emb.filter(F.col("embedding").isNotNull())
            .filter(F.pmod("vec_id", F.lit(N_DOC_CHUNKS)) == i)
            .select("vec_id", "label", "embedding")
            for i in range(N_DOC_CHUNKS)
        ],
        "mod",
        N_DOC_CHUNKS,
    )


_DRIFT_MONITOR_ORACLE = f"""
    WITH e AS (
        SELECT label, vec_id % {N_DOC_CHUNKS} AS chunk,
               generate_subscripts(embedding, 1)          AS pos,
               CAST(FLOOR(unnest(embedding::DOUBLE[]) * 1000000.0)
                    AS BIGINT)                            AS val
        FROM embeddings WHERE embedding IS NOT NULL
    ), b AS (
        SELECT label, chunk, pos, SUM(val) AS s, COUNT(*) AS n
        FROM e GROUP BY label, chunk, pos
    ), r AS (
        SELECT label, pos, SUM(val) AS s
        FROM e GROUP BY label, pos
    ), j AS (
        SELECT b.chunk, b.label,
               MAX(b.n)       AS n_vecs,
               SUM(b.s * r.s) AS dot,
               SUM(b.s * b.s) AS bb,
               SUM(r.s * r.s) AS rr
        FROM b JOIN r ON b.label = r.label AND b.pos = r.pos
        GROUP BY b.chunk, b.label
    )
    SELECT CAST(chunk AS BIGINT)  AS chunk,
           label,
           CAST(n_vecs AS BIGINT) AS n_vecs,
           ROUND(CAST(dot AS DOUBLE)
                 / (SQRT(CAST(bb AS DOUBLE)) * SQRT(CAST(rr AS DOUBLE))),
                 6)               AS centroid_cos
    FROM j
"""


@query(
    "str_embedding_drift_monitor",
    survey_id="STR-8/LLM-4/ETL-6",
    oracle=_DRIFT_MONITOR_ORACLE,
)
def str_embedding_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming embedding-drift monitor: every arriving micro-batch of
    vectors is reduced to per-(batch, label) batch centroids and compared
    against the broadcast REFERENCE centroids — the foreachBatch twin of
    llm_embedding_drift, and the fifth panel of the streaming monitoring
    family (near-dup, contamination, quality, mixture, now drift). A
    label whose batch-vs-reference centroid cosine drops in THIS batch
    was re-embedded with a drifted encoder or is carrying shifted
    content — caught before the batch enters any ANN index (the
    llm_ivf_index_refresh cross-check: a hot cell + a dropped
    centroid_cos together say 'retrain the quantizer').

    Float discipline is llm_embedding_drift's exactly: components floor
    to integer micro-units per (vector, dim) FIRST, so all sums are
    order-independent integers (decimal(38,0) / HUGEINT both sides);
    only the final cosine is double (dot/(sqrt·sqrt), 6 dp). The
    reference is the per-(label, dim) component-sum table — |labels|×64
    integer rows, MATERIALIZED once before the stream (bounded collect,
    the mixture-target discipline; a production reference is the last
    released index snapshot's artifact) and broadcast into every
    trigger. Per-trigger cost: one posexplode over the batch's own
    vectors (O(batch·64) integer rows, map-side-combined to
    |labels|×64 partials) + a broadcast join — no state store, batches
    independent by semantics. chunk=<batch_id> per-partition overwrite
    gives the family's write-ahead idempotency."""
    replay = _emb_drift_replay_dir(spark, sf_dir)
    root = store_path(spark, "scratch", sf_dir, "str_embedding_drift_monitor")
    remove(spark, root)
    results_store = f"{root}/report"

    def int_components(df: DataFrame) -> DataFrame:
        return df.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos0", "v"
            ),
        ).select(
            "label",
            (F.col("pos0") + 1).alias("pos"),
            F.floor(F.col("v") * 1000000.0).cast("bigint").alias("val"),
        )

    ref_rows = (
        int_components(
            load_table(spark, sf_dir, "embeddings").filter(
                F.col("embedding").isNotNull()
            )
        )
        .groupBy("label", "pos")
        .agg(F.sum(F.col("val").cast("decimal(38,0)")).alias("s_r"))
        .collect()
    )
    reference = spark.createDataFrame(
        ref_rows, "label int, pos int, s_r decimal(38,0)"
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        b = (
            int_components(batch_df)
            .groupBy("label", "pos")
            .agg(
                F.sum(F.col("val").cast("decimal(38,0)")).alias("s_b"),
                F.count(F.lit(1)).alias("n_b"),
            )
        )
        report = (
            b.join(F.broadcast(reference), ["label", "pos"])
            .groupBy("label")
            .agg(
                F.max("n_b").cast("bigint").alias("n_vecs"),
                F.sum(F.col("s_b") * F.col("s_r")).alias("dot"),
                F.sum(F.col("s_b") * F.col("s_b")).alias("bb"),
                F.sum(F.col("s_r") * F.col("s_r")).alias("rr"),
            )
            .select(
                "label",
                "n_vecs",
                F.round(
                    F.col("dot").cast("double")
                    / (
                        F.sqrt(F.col("bb").cast("double"))
                        * F.sqrt(F.col("rr").cast("double"))
                    ),
                    6,
                ).alias("centroid_cos"),
            )
        )
        report.coalesce(1).write.mode("overwrite").parquet(
            f"{results_store}/chunk={batch_id}"
        )

    stream = (
        spark.readStream.schema(
            "vec_id long, label int, embedding array<float>"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )
    drain(stream, process, f"{root}/ckpt")
    return _read_report(
        spark,
        results_store,
        "chunk bigint, label int, n_vecs bigint, centroid_cos double",
    )


_IVF_MONITOR_ORACLE = (
    IVF_ORACLE_CTES
    + f""", chunked AS (
        SELECT vec_id % {N_DOC_CHUNKS} AS chunk, cell_id FROM assigned
    ), bt AS (
        SELECT chunk, COUNT(*) AS batch_total FROM chunked GROUP BY chunk
    )
    SELECT CAST(a.chunk AS BIGINT)   AS chunk,
           a.cell_id,
           CAST(COUNT(*) AS BIGINT)  AS n_assigned,
           CAST(COUNT(*) * 1000000 // bt.batch_total
                AS BIGINT)           AS share_micro
    FROM chunked a JOIN bt USING (chunk)
    GROUP BY a.chunk, a.cell_id, bt.batch_total
"""
)


@query(
    "str_ivf_ingest_monitor",
    survey_id="STR-8/LLM-5/ETL-6",
    oracle=_IVF_MONITOR_ORACLE,
)
def str_ivf_ingest_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming IVF ingest monitor: every arriving micro-batch of
    embeddings is routed into the FROZEN coarse cells (the exact seeds
    and integer assignment of llm_ivf_index_refresh) and reduced to
    per-(batch, cell) occupancy + share — the sixth streaming panel,
    completing the IVF family's batch → incremental → streaming arc the
    near-dup family set (one-shot pairs → persisted-index refresh →
    per-trigger monitor). A cell whose share spikes within one batch is
    absorbing a shifted distribution the quantizer no longer
    tessellates (cross-check str_embedding_drift_monitor, which watches
    the same shift per label; this view is per CELL, i.e. per index
    shard — the operational unit that actually overflows).

    Per-trigger plan: the 16-row frozen quantizer is materialized once
    before the stream (bounded collect, broadcast local relation); the
    batch fans out x|cells| and collapses map-side via the max_by
    aggregate (the refresh's argmax discipline — no window shuffle),
    then one count agg to <= |cells| rows. No state store; batches
    independent by semantics; chunk=<batch_id> per-partition overwrite
    idempotency. All-integer assignment and exact floor shares —
    bit-comparable to the brute-force oracle."""
    replay = _emb_drift_replay_dir(spark, sf_dir)
    root = store_path(spark, "scratch", sf_dir, "str_ivf_ingest_monitor")
    remove(spark, root)
    results_store = f"{root}/report"

    _, seed_rows = _ivf_frozen_seeds(spark, _ivf_int_vectors(spark, sf_dir))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ei = batch_df.select(
            "vec_id",
            F.lit(0).alias("snap"),  # unused by the assigner's output here
            micro_units().alias("a"),
        )
        assigned = _ivf_assign_cells(ei, seed_rows).select("vec_id", "cell_id")
        counts = assigned.groupBy("cell_id").agg(
            F.count(F.lit(1)).alias("n_assigned")
        )
        total = counts.agg(F.sum("n_assigned").alias("batch_total"))
        report = counts.crossJoin(F.broadcast(total)).select(
            "cell_id",
            F.col("n_assigned").cast("bigint").alias("n_assigned"),
            F.expr("n_assigned * 1000000 div batch_total").alias(
                "share_micro"
            ),
        )
        report.coalesce(1).write.mode("overwrite").parquet(
            f"{results_store}/chunk={batch_id}"
        )

    stream = (
        spark.readStream.schema(
            "vec_id long, label int, embedding array<float>"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )
    drain(stream, process, f"{root}/ckpt")
    return _read_report(
        spark,
        results_store,
        "chunk bigint, cell_id bigint, n_assigned bigint, share_micro bigint",
    )


_IVF_APPEND_ORACLE = (
    IVF_ORACLE_CTES
    + f"""
    SELECT cell_id,
           CAST(SUM(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_old,
           CAST(SUM(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_streamed,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(DISTINCT CASE WHEN snap = 1
                                    THEN vec_id % {N_DOC_CHUNKS} END)
                AS BIGINT) AS n_chunks
    FROM assigned GROUP BY cell_id
"""
)


@query(
    "str_ivf_index_append",
    survey_id="STR-8/LLM-5/ETL-5",
    oracle=_IVF_APPEND_ORACLE,
)
def str_ivf_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming IVF index APPEND: the arriving batches
    are not just routed and reported (str_ivf_ingest_monitor) — each
    micro-batch's (vec_id, cell_id) assignments are PERSISTED into an
    accumulating index store alongside the batch-built base index, so
    build → refresh → serve → stream is a real accumulating index. The
    monitor pattern's write-ahead-by-batchId idempotency carries over
    unchanged: each batch overwrites its own chunk=<batch_id> partition,
    so a crash-replayed batch rewrites identical rows (pinned by
    tests/test_streaming_restart.py::test_ivf_append_store_is_idempotent)
    and never appends twice.

    The arriving half is the odd snap (the refresh's new-batch
    convention), delivered across the N_DOC_CHUNKS vec_id%N replay
    chunks; the base index is the even half, written once per
    (process, corpus) by the SAME store discipline the refresh uses.
    The emitted frame is served FROM the stores — base ∪ appended, one
    row per cell: (n_old, n_streamed, n_total, n_chunks) where n_chunks
    counts the distinct micro-batches that landed rows in the cell —
    and reconciles exactly with llm_ivf_index_refresh (n_old/n_added)
    by construction, which the restart test asserts frame-equal.

    Per-trigger plan: 16-row frozen quantizer broadcast; the batch fans
    out x|cells| and collapses MAP-SIDE via the max_by argmax; one
    16-byte row per vector lands in the store — O(batch·|cells|)
    compute, O(batch) writes, nothing re-touches prior chunks. At
    100 TB the store is the standard IVF posting layout: partitioned by
    arrival chunk, 16 bytes/vector, mergeable offline into cell-major
    order without recomputing a single assignment."""
    replay = _emb_drift_replay_dir(spark, sf_dir)
    root = store_path(spark, "scratch", sf_dir, "str_ivf_index_append")
    remove(spark, root)
    base_store = f"{root}/base"
    append_store = f"{root}/chunks"

    ei_static = _ivf_int_vectors(spark, sf_dir)
    _, seed_rows = _ivf_frozen_seeds(spark, ei_static)

    # the base index: even-half assignments, written before the stream
    # opens (the refresh's build step, store-local to this query so the
    # restart test can wipe and rebuild freely)
    _ivf_assign_cells(ei_static.filter(F.col("snap") == 0), seed_rows).select(
        "vec_id", "cell_id"
    ).coalesce(1).write.mode("overwrite").parquet(base_store)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        arriving = batch_df.filter(F.pmod("vec_id", F.lit(2)) == 1).select(
            "vec_id",
            F.lit(1).alias("snap"),
            micro_units().alias("a"),
        )
        _ivf_assign_cells(arriving, seed_rows).select(
            "vec_id", "cell_id"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{append_store}/chunk={batch_id}"
        )

    stream = (
        spark.readStream.schema(
            "vec_id long, label int, embedding array<float>"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )
    drain(stream, process, f"{root}/ckpt")

    empty = "cell_id bigint, n_old bigint, n_streamed bigint, " \
        "n_total bigint, n_chunks bigint"
    if not exists(spark, append_store):
        return spark.createDataFrame([], empty)
    base = (
        spark.read.parquet(base_store)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_old"))
    )
    appended = (
        spark.read.parquet(append_store)
        .groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).alias("n_streamed"),
            F.countDistinct("chunk").alias("n_chunks"),
        )
    )
    return (
        base.join(appended, "cell_id", "full_outer")
        .select(
            "cell_id",
            F.coalesce("n_old", F.lit(0)).cast("bigint").alias("n_old"),
            F.coalesce("n_streamed", F.lit(0))
            .cast("bigint")
            .alias("n_streamed"),
            F.coalesce("n_chunks", F.lit(0))
            .cast("bigint")
            .alias("n_chunks"),
        )
        .withColumn(
            "n_total",
            (F.col("n_old") + F.col("n_streamed")).cast("bigint"),
        )
        .select("cell_id", "n_old", "n_streamed", "n_total", "n_chunks")
    )


_IVF_REBALANCE_TRIGGER_ORACLE = (
    IVF_ORACLE_CTES
    + f""", counts AS (
        SELECT vec_id % {N_DOC_CHUNKS} AS chunk, cell_id, COUNT(*) AS n
        FROM assigned GROUP BY chunk, cell_id
    ), grid AS (
        SELECT c.chunk, s.cell_id
        FROM (SELECT DISTINCT chunk FROM counts) c
        CROSS JOIN (SELECT DISTINCT cell_id FROM counts) s
    ), cum AS (
        SELECT g.chunk, g.cell_id,
               COALESCE(cn.n, 0)            AS n_batch,
               COALESCE(SUM(c2.n), 0)       AS cum_n
        FROM grid g
        LEFT JOIN counts cn
          ON cn.chunk = g.chunk AND cn.cell_id = g.cell_id
        LEFT JOIN counts c2
          ON c2.cell_id = g.cell_id AND c2.chunk <= g.chunk
        GROUP BY g.chunk, g.cell_id, cn.n
    )
    SELECT CAST(chunk AS BIGINT)  AS chunk,
           cell_id,
           CAST(n_batch AS BIGINT) AS n_batch,
           CAST(cum_n AS BIGINT)   AS cum_n,
           CAST(CASE WHEN ROW_NUMBER() OVER (
                    PARTITION BY chunk ORDER BY cum_n DESC, cell_id)
                    <= {IVF_SPLIT_TOP} THEN 1 ELSE 0 END AS BIGINT)
               AS split_candidate
    FROM cum WHERE cum_n > 0
"""
)


@query(
    "str_ivf_rebalance_trigger",
    survey_id="STR-8/LLM-5/ETL-6",
    oracle=_IVF_REBALANCE_TRIGGER_ORACLE,
)
def str_ivf_rebalance_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming REBALANCE TRIGGER — the decision leg between
    str_ivf_ingest_monitor (watch) and llm_ivf_cell_rebalance (act):
    each micro-batch's frozen-cell routing is persisted
    (write-ahead-by-batchId, the append's store discipline), and after
    every trigger the monitor re-ranks the CUMULATIVE per-cell
    occupancy and marks the IVF_SPLIT_TOP hottest cells — exactly the
    set the batch rebalance would split if the maintenance window fired
    at that trigger. A cell that enters the candidate set and stays
    there across chunks is the operational page; one that drifts in and
    out is load noise the fixed-count rule absorbs.

    Emitted frame: one row per (chunk, cell) with any cumulative mass —
    that batch's arrivals, the cumulative count, and the candidate
    flag. All-integer and md5-deterministic, so the brute-force DuckDB
    twin hash-matches bit-for-bit; the trigger-vs-batch consistency
    (final chunk's candidate set == the rebalance's split set) is
    pinned by tests/test_round11_semantics.py::
    test_rebalance_trigger_final_chunk_matches_batch_split.

    Per-trigger plan: 16-row frozen quantizer broadcast; batch fans out
    x|cells| and collapses map-side (the family's max_by argmax); ONE
    |cells|-row count frame lands in the store per trigger. The
    cumulative re-rank runs over the ≤ |chunks|x|cells| store rows — a
    plan-constant frame, never corpus-sized, at any SF."""
    replay = _emb_drift_replay_dir(spark, sf_dir)
    root = store_path(spark, "scratch", sf_dir, "str_ivf_rebalance_trigger")
    remove(spark, root)
    results_store = f"{root}/report"

    _, seed_rows = _ivf_frozen_seeds(spark, _ivf_int_vectors(spark, sf_dir))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ei = batch_df.select(
            "vec_id",
            F.lit(0).alias("snap"),
            micro_units().alias("a"),
        )
        (
            _ivf_assign_cells(ei, seed_rows)
            .groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{results_store}/chunk={batch_id}")
        )

    stream = (
        spark.readStream.schema(
            "vec_id long, label int, embedding array<float>"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )
    drain(stream, process, f"{root}/ckpt")

    counts = _read_report(
        spark, results_store, "chunk bigint, cell_id bigint, n bigint"
    )
    # plan-constant frame from here on: |chunks| x |cells| rows (the
    # explicit broadcast keeps this a bounded BNLJ, never a
    # CartesianProduct — the plan-gate contract)
    grid = counts.select("chunk").distinct().crossJoin(
        F.broadcast(counts.select("cell_id").distinct())
    )
    c2 = counts.select(
        F.col("chunk").alias("c2_chunk"),
        F.col("cell_id").alias("c2_cell"),
        F.col("n").alias("c2_n"),
    )
    cum = (
        grid.join(
            counts.withColumnRenamed("n", "n_batch"),
            ["chunk", "cell_id"],
            "left",
        )
        .join(
            c2,
            (F.col("c2_cell") == F.col("cell_id"))
            & (F.col("c2_chunk") <= F.col("chunk")),
            "left",
        )
        .groupBy("chunk", "cell_id", "n_batch")
        .agg(F.coalesce(F.sum("c2_n"), F.lit(0)).alias("cum_n"))
        .select(
            "chunk",
            "cell_id",
            F.coalesce("n_batch", F.lit(0)).cast("bigint").alias("n_batch"),
            F.col("cum_n").cast("bigint").alias("cum_n"),
        )
        .filter(F.col("cum_n") > 0)
    )
    w = Window.partitionBy("chunk").orderBy(F.desc("cum_n"), "cell_id")
    return cum.withColumn(
        "split_candidate",
        F.when(F.row_number().over(w) <= IVF_SPLIT_TOP, 1)
        .otherwise(0)
        .cast("bigint"),
    )


_IVF_COMPACT_ORACLE = (
    IVF_ORACLE_CTES
    + f"""
    SELECT cell_id,
           CAST(COUNT(*) AS BIGINT) AS n_before,
           CAST(COUNT(DISTINCT vec_id % {N_DOC_CHUNKS}) AS BIGINT)
               AS n_chunks_before,
           CAST(COUNT(*) AS BIGINT) AS n_after,
           CAST(1 AS BIGINT) AS n_files,
           CAST(MIN(vec_id) AS BIGINT) AS min_vec_id,
           CAST(MAX(vec_id) AS BIGINT) AS max_vec_id
    FROM assigned WHERE snap = 1 GROUP BY cell_id
"""
)


@query(
    "llm_ivf_store_compact",
    survey_id="ETL-5/LLM-5/STR-8",
    oracle=_IVF_COMPACT_ORACLE,
)
def llm_ivf_store_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-store COMPACTION: makes the append store's
    "mergeable offline into cell-major order without recomputing a
    single assignment" claim (str_ivf_index_append docstring) a graded
    operator instead of prose. The chunk-partitioned write-ahead store
    (one partition per arrival micro-batch — the layout a crash-safe
    ingest leaves behind) is read back and REWRITTEN cell-major: one
    parquet directory per cell, exactly one file per cell, rows sorted
    by vec_id within the file — the posting-list layout a serving probe
    wants (open one cell dir, scan one ordered file), produced WITHOUT
    re-running the quantizer on any vector.

    The emitted frame is the compaction audit, with every column read
    back from a REAL store (nothing inferred from the source frame):
    n_before / n_chunks_before from the chunk-partitioned source,
    n_after / min_vec_id / max_vec_id from the compacted store's rows,
    n_files from a filesystem listing of the cell directory. The oracle
    states the conservation contract: n_after == n_before per cell,
    n_files == 1, id range preserved — a lost row, a duplicated chunk,
    or a fragmented rewrite all hash-mismatch. Reconciliation with the
    REAL stream's store (this query builds its source batch-side by the
    same vec_id % N_DOC_CHUNKS write-ahead layout; content parity with
    str_ivf_index_append's stream-built chunks) is pinned by
    tests/test_streaming_restart.py::test_compact_source_matches_stream_store.

    Scale: compaction is ONE shuffle of the append rows on cell_id
    (repartition by the posting key — the only exchange the rewrite
    needs), then a sorted per-cell write; 8-16 bytes/vector through the
    exchange, no vector payloads, no quantizer work. At 100 TB this is
    the nightly posting-merge every IVF serving tier runs; the
    file-per-cell invariant is what keeps probe-side open() counts at
    O(nprobe), not O(chunks)."""
    root = store_path(spark, "scratch", sf_dir, "llm_ivf_store_compact")
    remove(spark, root)
    src_store = f"{root}/src"
    dst_store = f"{root}/dst"

    ei = _ivf_int_vectors(spark, sf_dir)
    _, seed_rows = _ivf_frozen_seeds(spark, ei)
    # The chunk-partitioned source: the streamed half's assignments in
    # the append store's write-ahead layout (chunk = arrival batch =
    # vec_id % N_DOC_CHUNKS — the replay's pure-function chunking), one
    # file per chunk partition, built batch-side so the graded query is
    # store-deterministic; stream parity is the restart test's job.
    (
        _ivf_assign_cells(ei.filter(F.col("snap") == 1), seed_rows)
        .withColumn(
            "chunk", F.pmod("vec_id", F.lit(N_DOC_CHUNKS)).cast("int")
        )
        .select("vec_id", "cell_id", "chunk")
        .repartition("chunk")
        .write.mode("overwrite")
        .partitionBy("chunk")
        .parquet(src_store)
    )

    # explicit schemas on both read-backs: a partitionBy write of an
    # EMPTY frame creates no schema-bearing files (only _SUCCESS), and
    # schema inference would throw on the empty-corpus path the empty-
    # input gate exercises
    src = spark.read.schema("vec_id bigint, cell_id bigint, chunk int").parquet(
        src_store
    )
    # cell-major rewrite: one exchange on the posting key, vec_id-sorted
    # within each cell file, one file per cell (repartition by cell_id
    # puts each cell in exactly one task; partitionBy splits the task's
    # output one file per cell value)
    (
        src.repartition("cell_id")
        .sortWithinPartitions("cell_id", "vec_id")
        .select("vec_id", "cell_id")
        .write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(dst_store)
    )

    before = src.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_before"),
        F.countDistinct("chunk").alias("n_chunks_before"),
    )
    compacted = spark.read.schema("vec_id bigint, cell_id bigint").parquet(
        dst_store
    )
    after = compacted.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_after"),
        F.min("vec_id").alias("min_vec_id"),
        F.max("vec_id").alias("max_vec_id"),
    )
    # file census straight off the filesystem — |cells| directories,
    # driver-side by design (the audit must see the REAL layout, and a
    # |cells|-row listing is plan-constant at any corpus size)
    per_dir = Counter(
        f.getPath().getParent().getName() for f in data_files(spark, dst_store)[1]
    )
    files_rows = [
        (int(d.split("=", 1)[1]), n)
        for d, n in sorted(per_dir.items())
        if d.startswith("cell_id=")
    ]
    files = spark.createDataFrame(
        files_rows, "cell_id bigint, n_files bigint"
    )
    return (
        before.join(after, "cell_id")
        .join(F.broadcast(files), "cell_id")
        .select(
            "cell_id",
            F.col("n_before").cast("bigint").alias("n_before"),
            F.col("n_chunks_before").cast("bigint").alias("n_chunks_before"),
            F.col("n_after").cast("bigint").alias("n_after"),
            "n_files",
            F.col("min_vec_id").cast("bigint").alias("min_vec_id"),
            F.col("max_vec_id").cast("bigint").alias("max_vec_id"),
        )
    )


#: Tombstone predicate for the delete leg: a vector is taken down iff the
#: first hex digit of md5('ivfd:' || vec_id) is below this bound — ~1/8
#: of the corpus, md5-deterministic so both engines and every replayed
#: batch derive the IDENTICAL set (a fresh salt, independent of the
#: 'ivfr:'/'ivfs:'/'ivfp:'/'pqcb:' draws).
IVF_DELETE_HEX_BOUND = "2"


_IVF_DELETE_ORACLE = (
    IVF_ORACLE_CTES
    + f""", tomb AS (
        SELECT vec_id FROM ei
        WHERE substr(md5('ivfd:' || vec_id), 1, 1)
              < '{IVF_DELETE_HEX_BOUND}'
    )
    SELECT a.cell_id,
           CAST(COUNT(*) AS BIGINT) AS n_indexed,
           CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_deleted,
           CAST(SUM(CASE WHEN t.vec_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_live,
           CAST(SUM(CASE WHEN t.vec_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_compacted
    FROM assigned a LEFT JOIN tomb t ON t.vec_id = a.vec_id
    GROUP BY a.cell_id
"""
)


@query(
    "str_ivf_index_delete",
    survey_id="STR-8/LLM-5/ETL-5",
    oracle=_IVF_DELETE_ORACLE,
)
def str_ivf_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone/DELETE leg for the incremental IVF store — the missing
    third verb of corpus curation: takedowns, recrawl-supersedes, and
    right-to-be-forgotten requests REMOVE vectors from a serving index
    that only ever learned to append. Each
    replayed micro-batch now writes two write-ahead frames: its odd-half
    assignments into the accumulating append store (the
    str_ivf_index_append contract, unchanged) and its TOMBSTONES — the
    batch rows matching the md5-deterministic takedown predicate — into
    a tombstone store, overwrite-by-batchId so a crash-replayed delete
    batch rewrites identical rows and is a no-op (pinned by
    tests/test_streaming_restart.py::test_ivf_delete_replay_is_noop).

    The three delete mechanics, each graded through the emitted frame:
    tombstones accumulate WRITE-AHEAD (n_deleted); the serve path
    ANTI-JOINS them — live = (base ∪ appended) ⋉̸ tombstones — without
    touching the index files (n_live); and a compaction pass physically
    DROPS them, rewriting live rows cell-major (n_compacted, read back
    from the rewritten store — a tombstoned row surviving the rewrite
    hash-mismatches). The oracle states the conservation law:
    n_live == n_compacted == n_indexed - n_deleted per cell.

    Scale: tombstones are 8 bytes/deleted-vector, O(batch) per trigger;
    the serve-time anti-join broadcasts while deletes are rare and
    shuffle-joins on vec_id once they aren't; compaction is the
    llm_ivf_store_compact shuffle with the anti-join fused before the
    exchange — deleted rows never travel. Between compactions, serving
    pays one anti-join; after, nothing."""
    replay = _emb_drift_replay_dir(spark, sf_dir)
    root = store_path(spark, "scratch", sf_dir, "str_ivf_index_delete")
    remove(spark, root)
    base_store = f"{root}/base"
    append_store = f"{root}/chunks"
    tomb_store = f"{root}/tombs"
    live_store = f"{root}/compacted"

    ei_static = _ivf_int_vectors(spark, sf_dir)
    _, seed_rows = _ivf_frozen_seeds(spark, ei_static)
    _ivf_assign_cells(ei_static.filter(F.col("snap") == 0), seed_rows).select(
        "vec_id", "cell_id"
    ).coalesce(1).write.mode("overwrite").parquet(base_store)

    tomb_pred = (
        F.substring(
            F.md5(F.concat(F.lit("ivfd:"), F.col("vec_id").cast("string"))),
            1,
            1,
        )
        < IVF_DELETE_HEX_BOUND
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        arriving = batch_df.filter(F.pmod("vec_id", F.lit(2)) == 1).select(
            "vec_id",
            F.lit(1).alias("snap"),
            micro_units().alias("a"),
        )
        _ivf_assign_cells(arriving, seed_rows).select(
            "vec_id", "cell_id"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{append_store}/chunk={batch_id}"
        )
        batch_df.filter(tomb_pred).select("vec_id").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{tomb_store}/chunk={batch_id}")

    stream = (
        spark.readStream.schema(
            "vec_id long, label int, embedding array<float>"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )
    drain(stream, process, f"{root}/ckpt")

    empty = (
        "cell_id bigint, n_indexed bigint, n_deleted bigint, "
        "n_live bigint, n_compacted bigint"
    )
    if not exists(spark, append_store):
        return spark.createDataFrame([], empty)
    # explicit schemas on every store read-back: chunk-partitioned and
    # partitionBy writes of EMPTY frames leave no schema-bearing files,
    # and inference would throw on the empty-corpus path (the empty-
    # input gate's hardened class)
    indexed = spark.read.parquet(base_store).unionByName(
        spark.read.schema("vec_id bigint, cell_id bigint, chunk int")
        .parquet(append_store)
        .select("vec_id", "cell_id")
    )
    tombs = (
        spark.read.schema("vec_id bigint, chunk int")
        .parquet(tomb_store)
        .select("vec_id")
        .distinct()
    )
    live = indexed.join(tombs, "vec_id", "left_anti")

    # compaction physically drops tombstoned rows: the anti-join runs
    # BEFORE the cell_id exchange, deleted rows never travel
    (
        live.repartition("cell_id")
        .sortWithinPartitions("cell_id", "vec_id")
        .write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(live_store)
    )

    per_cell = indexed.join(
        tombs.withColumn("__dead", F.lit(1)), "vec_id", "left"
    ).groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_indexed"),
        F.sum(F.coalesce("__dead", F.lit(0))).alias("n_deleted"),
        F.sum(
            F.when(F.col("__dead").isNull(), 1).otherwise(0)
        ).alias("n_live"),
    )
    compacted = (
        spark.read.schema("vec_id bigint, cell_id bigint")
        .parquet(live_store)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_compacted"))
    )
    return (
        per_cell.join(compacted, "cell_id", "left")
        .select(
            "cell_id",
            F.col("n_indexed").cast("bigint").alias("n_indexed"),
            F.col("n_deleted").cast("bigint").alias("n_deleted"),
            F.col("n_live").cast("bigint").alias("n_live"),
            F.coalesce("n_compacted", F.lit(0))
            .cast("bigint")
            .alias("n_compacted"),
        )
    )

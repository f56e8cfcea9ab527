"""Distributed inverted-index build (the Spark-first analogue of Lucene's
segment write + merge, SURVEY.md §2.5 E6 / §3.1).

Pipeline (one wide shuffle):

  corpus (doc_id, content)
    -> pandas UDF: term->tf map per doc (Arrow-vectorized chunk tokenizer;
       tf aggregated inside the UDF so no (doc_id, term) groupBy shuffle)
    -> explode map -> (term, doc_id, tf, dl)
    -> repartitionByRange(num_partitions, term, doc_id)
       + sortWithinPartitions(term, doc_id)
    -> mapInPandas block builder: per-term docID-sorted blocks,
       delta+varbyte blobs (term groups straddling Arrow batches are
       carried over; term groups never straddle *partitions* because the
       range exchange splits only between key values)
    -> parquet, term-sorted files (min/max stats = term-dictionary seek)

Skew: range partitioning on the composite key (term, doc_id) splits a hot
term's postings across partitions; each fragment becomes valid block rows
(disjoint docID ranges), so no salt+merge second pass is needed — the
block layout *is* the merged form. This replaces the reference's
single-node segment merge with a shuffle-merge (north_rule).

Resumability: the corpus can be built in ``n_slices`` deterministic
doc-hash slices, each written + manifested atomically; a re-run skips
slices whose manifest entry exists (per-partition lineage + metrics).
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import HashSplitterConfig
from ..functions.codec import encode_counts, encode_doc_ids
from ..functions.tokenize import JVM_WS_RUN_REGEX, term_counts_frame
from ..sources import catalog

DEFAULT_BLOCK_SIZE = 4096


def run_jobs_concurrently(*thunks):
    """Run independent Spark actions from a small driver thread pool so
    the scheduler overlaps them (guide §2.6: actions are only sequential
    because driver code calls them sequentially; a later job's tasks
    back-fill executors freed by the earlier job's tail). Callers must
    only pass thunks whose jobs are independent — no thunk may read
    files another thunk writes. Returns the thunk results in order;
    on failure see :func:`run_jobs_pool`."""
    return run_jobs_pool(thunks, max_workers=len(thunks))


def run_jobs_pool(thunks, max_workers: int = 4):
    """:func:`run_jobs_concurrently` over a list, with a bounded pool —
    for fan-outs whose width follows the data (one thunk per victim
    slice): a few jobs in flight is enough to fill scheduler gaps
    without flooding the cluster (guide §2.6).

    The first failure (in completion order) cancels every thunk that
    has not started yet — their output would be discarded with the
    failed operation's — waits for the running ones to finish, and is
    re-raised."""
    thunks = list(thunks)
    if not thunks:
        return []
    if len(thunks) == 1:
        return [thunks[0]()]
    from concurrent.futures import ThreadPoolExecutor, as_completed

    with ThreadPoolExecutor(
        max_workers=min(max_workers, len(thunks))
    ) as pool:
        futures = [pool.submit(t) for t in thunks]
        for f in as_completed(futures):
            if f.exception() is not None:
                pool.shutdown(cancel_futures=True)
                raise f.exception()
        return [f.result() for f in futures]


def adaptive_num_partitions(
    docs: DataFrame,
    floor: int = 2,
    bytes_per_partition: int = 64 * 1024,
) -> int:
    """Scale-adaptive shuffle-partition count for an index build over
    ``docs`` (guide §2: derive partitioning from input size instead of a
    constant tuned to one deployment).

    Uses Catalyst's ``sizeInBytes`` estimate of the source plan as the
    scale proxy — for file sources that is the (compressed) input bytes;
    ~64 KB of compressed source text explodes to roughly 10^5-10^6
    postings, a healthy per-task unit for the block builder. The count
    is clamped to ``[floor, spark.sql.shuffle.partitions]``: the conf
    cap keeps cluster deployments in charge of the upper bound (a 100 TB
    build with a properly sized ``spark.sql.shuffle.partitions`` still
    fans out fully), while small inputs stop paying hundreds of
    near-empty tasks per job. Sources whose size Catalyst cannot
    estimate (opaque UDF lineage, the unknown-stats sentinel) fall back
    to the conf value — exactly the old behavior. Callers that know
    better pass ``num_partitions`` explicitly.
    """
    spark = docs.sparkSession
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    try:
        est = int(
            str(
                docs._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        )
    except Exception:
        return cap
    if est <= 0 or est >= (1 << 50):  # unknown-stats sentinel
        return cap
    want = -(-est // bytes_per_partition)  # ceil
    return max(floor, min(cap, want))


def tokenize_corpus(
    docs: DataFrame,
    cfg: HashSplitterConfig,
    id_col: str = "doc_id",
    text_col: str = "content",
) -> DataFrame:
    """-> (doc_id, dl, content_sha256, tf map<term,int>).

    The tokenizer runs as an Arrow-vectorized pandas UDF (no per-row
    Python); sha256 is computed JVM-side for the per-row integrity
    invariant (BASELINE.json input_hint).
    """
    cfg_json = cfg.to_json()

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("terms", T.ArrayType(T.StringType())),
                T.StructField("tfs", T.ArrayType(T.IntegerType())),
                T.StructField("dl", T.LongType()),
            ]
        )
    )
    def tf_struct(s: pd.Series) -> pd.DataFrame:
        c = HashSplitterConfig.from_json(cfg_json)
        return term_counts_frame(s, c)

    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.sha2(F.col(text_col).cast("string"), 256).alias("content_sha256"),
        tf_struct(F.col(text_col).cast("string")).alias("tt"),
    ).select(
        "doc_id",
        "content_sha256",
        F.col("tt.terms").alias("terms"),
        F.col("tt.tfs").alias("tfs"),
        F.col("tt.dl").alias("dl"),
    )


def dl_expr(cfg: HashSplitterConfig, text_col: str):
    """Catalyst-only document length (total chunk-term count) — exactly the
    tokenizer's count, without running the Python UDF: lets docstats be a
    pure JVM scan instead of a second tokenize pass. Returns None when the
    config needs the full tokenizer (custom token_pattern)."""
    c = F.col(text_col).cast("string")
    L = cfg.chunk_length
    if cfg.token_mode == "tokens":
        if cfg.token_pattern != r"\S+":
            return None
        # JVM_WS_RUN_REGEX, not \s: Java \s is ASCII-only and plain (?U)\s
        # misses \x1C-\x1F, but the tokenizer splits on Arrow's full set;
        # any mismatch makes docstats dl diverge from the dls encoded in
        # the posting blocks and skews BM25 length normalization
        toks = F.filter(F.split(c, JVM_WS_RUN_REGEX), lambda t: t != "")
        return F.coalesce(
            F.aggregate(
                toks,
                F.lit(0).cast("long"),
                lambda a, t: a + F.ceil(F.length(t) / F.lit(float(L))),
            ),
            F.lit(0).cast("long"),
        )
    s = c
    if cfg.apply_input_cap:
        # exact Java String.trim(): strip chars <= U+0020 from both ends
        s = F.regexp_replace(
            F.substring(c, 1, 1024), r"^[\x00-\x20]+|[\x00-\x20]+$", ""
        )
    return F.ceil(F.length(s) / F.lit(float(L))).cast("long")


def _block_builder(block_size: int):
    """O(n) streaming block builder over (term, doc_id)-sorted batches.

    A term group open at a batch boundary is held as a *list* of frame
    slices (never re-concatenated per batch — a giant term spanning many
    Arrow batches costs linear, not quadratic, time) and is eagerly
    drained into full blocks whenever it exceeds the block size, bounding
    memory by O(block_size) per open term regardless of posting-list df.
    """

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        open_term: str | None = None
        open_frames: list[pd.DataFrame] = []
        open_rows = 0
        out_rows: list[dict] = []

        def block_row(term, d, t, l) -> dict:
            return {
                "term": term,
                "min_doc": int(d[0]),
                "max_doc": int(d[-1]),
                "df": int(d.size),
                "max_tf": int(t.max()),
                "min_dl": int(l.min()),
                "docs": encode_doc_ids(d),
                "tfs": encode_counts(t),
                "dls": encode_counts(l),
            }

        def emit_group(term, d, t, l, final: bool) -> pd.DataFrame | None:
            """Blocks from one term's sorted arrays; if not final, the
            trailing partial block is returned as the new remainder."""
            n = d.size
            full_end = n if final else (n // block_size) * block_size
            for b in range(0, full_end, block_size):
                e = min(b + block_size, full_end)
                out_rows.append(block_row(term, d[b:e], t[b:e], l[b:e]))
            if final:
                return None
            rest = pd.DataFrame(
                {"doc_id": d[full_end:], "tf": t[full_end:], "dl": l[full_end:]}
            )
            rest["term"] = term
            return rest

        def group_arrays(frames):
            if len(frames) == 1:
                g = frames[0]
            else:
                g = pd.concat(frames, ignore_index=True)
            return (
                g["doc_id"].to_numpy(dtype=np.int64),
                g["tf"].to_numpy(dtype=np.int64),
                g["dl"].to_numpy(dtype=np.int64),
            )

        def emit_closed_groups(done: pd.DataFrame) -> None:
            terms = done["term"].to_numpy()
            change = np.flatnonzero(terms[1:] != terms[:-1]) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(terms)]))
            doc_ids = done["doc_id"].to_numpy(dtype=np.int64)
            tfs = done["tf"].to_numpy(dtype=np.int64)
            dls = done["dl"].to_numpy(dtype=np.int64)
            for s, e in zip(starts, ends):
                emit_group(terms[s], doc_ids[s:e], tfs[s:e], dls[s:e], True)

        for pdf in batches:
            if not len(pdf):
                continue
            if open_term is not None:
                cut = int(pdf["term"].searchsorted(open_term, side="right"))
                if cut > 0:
                    open_frames.append(pdf.iloc[:cut])
                    open_rows += cut
                if cut == len(pdf):
                    if open_rows >= 2 * block_size:  # eager drain
                        d, t, l = group_arrays(open_frames)
                        rest = emit_group(open_term, d, t, l, False)
                        open_frames = [rest]
                        open_rows = len(rest)
                    if out_rows:
                        yield pd.DataFrame(out_rows)
                        out_rows = []
                    continue
                d, t, l = group_arrays(open_frames)
                emit_group(open_term, d, t, l, True)
                open_term, open_frames, open_rows = None, [], 0
                pdf = pdf.iloc[cut:]
            # hold back the final term group — it may continue next batch
            last_term = pdf["term"].iat[-1]
            cut2 = int(pdf["term"].searchsorted(last_term, side="left"))
            done = pdf.iloc[:cut2]
            if len(done):
                emit_closed_groups(done)
            open_term = last_term
            open_frames = [pdf.iloc[cut2:]]
            open_rows = len(pdf) - cut2
            if out_rows:
                yield pd.DataFrame(out_rows)
                out_rows = []
        if open_term is not None and open_rows:
            d, t, l = group_arrays(open_frames)
            emit_group(open_term, d, t, l, True)
        if out_rows:
            yield pd.DataFrame(out_rows)

    return build


def build_postings_blocks(
    tokenized: DataFrame,
    num_partitions: int,
    block_size: int = DEFAULT_BLOCK_SIZE,
    salt_buckets: int = 8,
    partition_strategy: str = "hash_salt",
) -> DataFrame:
    """(doc_id, terms, tfs, dl) -> postings block rows (BLOCK_SCHEMA).

    ``hash_salt`` (default): shuffle on ``(term, xxhash64(doc_id) %
    salt_buckets)`` — deterministic (no sampling pass over the full
    dataset, unlike repartitionByRange), and the salt splits a hot term's
    postings across up to ``salt_buckets`` reducers (the north_star's
    salted repartitioning for skew). Blocks of one term coming from
    different salt buckets have interleaved docID ranges; the block
    format permits that (consumers concat + the per-block min/max stays
    exact), so no second-stage merge is needed.

    ``range``: repartitionByRange on (term, doc_id) — globally
    term-ordered files (strongest file-level pruning) at the cost of a
    sampling pass; use for read-heavy indexes via ``compact_index``.
    """
    flat = tokenized.select(
        "doc_id",
        "dl",
        F.explode(F.arrays_zip("terms", "tfs")).alias("z"),
    ).select(
        "doc_id",
        "dl",
        F.col("z.terms").alias("term"),
        F.col("z.tfs").cast("long").alias("tf"),
    )
    if partition_strategy == "range":
        shuffled = flat.repartitionByRange(num_partitions, "term", "doc_id")
    else:
        shuffled = flat.repartition(
            num_partitions,
            F.col("term"),
            F.pmod(F.xxhash64("doc_id"), F.lit(salt_buckets)),
        )
    ranged = shuffled.sortWithinPartitions("term", "doc_id")
    return ranged.mapInPandas(
        _block_builder(block_size), schema=catalog.BLOCK_SCHEMA
    )


def _segment_builder(block_size: int):
    """Map-side segment build over the TOKENIZED rows (doc_id, dl,
    terms[], tfs[]): flatten the per-doc term arrays in-kernel
    (np.repeat/concatenate), sort locally by (term, doc_id), and emit
    encoded block rows — a Lucene-style per-partition segment. Memory
    is bounded by the input-split size
    (spark.sql.files.maxPartitionBytes).

    The flatten lives HERE, not in a JVM ``explode`` before the UDF
    (r6): Generate materializes one JVM row per posting (~35M rows per
    100k docs) and Arrow then ships each with its duplicated
    doc_id/dl, where the array form crosses the boundary once per DOC
    — measured 2.5x faster for the tokenize+segment stage (guide §4:
    control what crosses the Python boundary)."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
        counts = pdf["terms"].str.len().to_numpy(dtype=np.int64)
        total = int(counts.sum())
        if total == 0:
            return
        doc_ids = np.repeat(pdf["doc_id"].to_numpy(dtype=np.int64), counts)
        dls = np.repeat(pdf["dl"].to_numpy(dtype=np.int64), counts)
        terms = np.concatenate(
            [np.asarray(a, dtype=object) for a in pdf["terms"]]
        )
        tfs = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in pdf["tfs"]]
        )
        # factorize first: integer lexsort, not object-string comparisons
        codes, _ = pd.factorize(terms, sort=False)
        order = np.lexsort((doc_ids, codes))
        terms, doc_ids = terms[order], doc_ids[order]
        tfs, dls = tfs[order], dls[order]
        change = np.flatnonzero(terms[1:] != terms[:-1]) + 1
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [len(terms)]))
        rows = []
        for s, e in zip(starts, ends):
            for b in range(s, e, block_size):
                be = min(b + block_size, e)
                d, t, l = doc_ids[b:be], tfs[b:be], dls[b:be]
                rows.append(
                    {
                        "term": terms[s],
                        "min_doc": int(d[0]),
                        "max_doc": int(d[-1]),
                        "df": int(d.size),
                        "max_tf": int(t.max()),
                        "min_dl": int(l.min()),
                        "docs": encode_doc_ids(d),
                        "tfs": encode_counts(t),
                        "dls": encode_counts(l),
                    }
                )
        if rows:
            yield pd.DataFrame(rows)

    return build


def _segment_merger(block_size: int, min_merge_df: int):
    """Reducer-side merge: all mini-blocks of a term land in one
    partition; small fragments are decoded, merge-sorted, and re-encoded
    into full blocks (terms whose fragments are already >= block_size/2
    pass through — re-encoding them buys nothing)."""

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.codec import decode_counts, decode_doc_ids

        groups: dict[str, list] = {}
        for pdf in batches:
            for rec in pdf.itertuples(index=False):
                groups.setdefault(rec.term, []).append(rec)
        rows = []
        for term, recs in groups.items():
            if len(recs) == 1:
                # a lone fragment IS the term's merged form — decoding
                # and re-encoding it buys nothing. This is the common
                # case for high-cardinality/low-df term spaces (the
                # hash field: ~1 block per md5 chunk term), where the
                # per-term decode loop dominated the merge stage (r6).
                rows.append(recs[0]._asdict())
                continue
            small = [r for r in recs if r.df < min_merge_df]
            for r in recs:
                if r.df >= min_merge_df:
                    rows.append(r._asdict())
            if not small:
                continue
            d = np.concatenate([decode_doc_ids(r.docs) for r in small])
            t = np.concatenate([decode_counts(r.tfs) for r in small])
            l = np.concatenate([decode_counts(r.dls) for r in small])
            order = np.argsort(d, kind="stable")
            d, t, l = d[order], t[order], l[order]
            for b in range(0, d.size, block_size):
                be = min(b + block_size, d.size)
                rows.append(
                    {
                        "term": term,
                        "min_doc": int(d[b]),
                        "max_doc": int(d[be - 1]),
                        "df": int(be - b),
                        "max_tf": int(t[b:be].max()),
                        "min_dl": int(l[b:be].min()),
                        "docs": encode_doc_ids(d[b:be]),
                        "tfs": encode_counts(t[b:be]),
                        "dls": encode_counts(l[b:be]),
                    }
                )
        if rows:
            yield pd.DataFrame(rows)

    return merge


def build_postings_blocks_segmented(
    tokenized: DataFrame,
    num_partitions: int,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> DataFrame:
    """Segment-build + shuffle-merge strategy (the north_star pipeline,
    and the scale-optimal one): per-input-partition sorted segments are
    encoded map-side, so the term shuffle moves delta+varbyte *blocks*
    (~1-2 bytes/posting) instead of raw rows (~50 bytes/posting) — an
    order of magnitude less exchange volume; the reducer consolidates
    each term's fragments into full blocks."""
    src = tokenized.select("doc_id", "dl", "terms", "tfs")
    try:
        in_parts = src.rdd.getNumPartitions()
    except Exception:
        in_parts = num_partitions
    if in_parts < num_partitions:
        # a small source (single-file parquet read, tiny batch) would
        # otherwise run tokenize + segment-build as in_parts serial
        # tasks; round-robin the doc rows first — 1 compact row per doc,
        # far cheaper than the serialism (at scale maxPartitionBytes
        # already yields >= num_partitions input splits, so this is a
        # no-op there)
        src = src.repartition(num_partitions)
    segments = src.mapInPandas(
        _segment_builder(block_size), schema=catalog.BLOCK_SCHEMA
    )
    merged = (
        segments.repartition(num_partitions, "term")
        .mapInPandas(
            _segment_merger(block_size, max(block_size // 2, 1)),
            schema=catalog.BLOCK_SCHEMA,
        )
    )
    return merged


def build_index(
    docs: DataFrame,
    cfg: HashSplitterConfig,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "content",
    num_partitions: int | None = None,
    block_size: int = DEFAULT_BLOCK_SIZE,
    n_slices: int = 1,
    build_strategy: str = "segments",
) -> dict:
    """Full index build; returns the stats dict (also persisted).

    With ``n_slices > 1`` the corpus is split by ``pmod(xxhash64(doc_id))``
    and each slice is built + manifested independently: a rerun after a
    failure skips completed slices (checkpoint resume, north_rule).
    """
    spark = docs.sparkSession
    if num_partitions is None:
        num_partitions = adaptive_num_partitions(docs)
    try:
        if docs.rdd.getNumPartitions() < num_partitions:
            # few-split sources (one small parquet file) would run the
            # tokenize UDF and the docstats scan near-serially
            docs = docs.repartition(num_partitions)
    except Exception:
        pass

    tokenized = tokenize_corpus(docs, cfg, id_col, text_col)
    dle = dl_expr(cfg, text_col)

    built_slices = 0
    for s in range(n_slices):
        if catalog.manifest_exists(index_dir, s):
            continue
        t0 = time.time()
        part = (
            tokenized
            if n_slices == 1
            else tokenized.where(
                F.pmod(F.xxhash64("doc_id"), F.lit(n_slices)) == s
            )
        )
        # docstats and postings are two sinks. Deliberately NOT persisted:
        # caching tens of millions of small deserialized strings causes GC
        # thrash that anti-scales with cores (measured 2-5x slower at
        # local[32]). Instead docstats is a pure-JVM scan (dl_expr) when
        # the config allows, else a second tokenize pass.
        if build_strategy == "segments":
            blocks = build_postings_blocks_segmented(
                part, max(1, num_partitions // n_slices), block_size
            )
        else:
            blocks = build_postings_blocks(
                part, max(1, num_partitions // n_slices), block_size
            )
        if dle is not None:
            stats_src = docs.select(
                F.col(id_col).cast("long").alias("doc_id"),
                dle.alias("dl"),
                F.sha2(F.col(text_col).cast("string"), 256).alias(
                    "content_sha256"
                ),
            )
            if n_slices > 1:
                stats_src = stats_src.where(
                    F.pmod(F.xxhash64("doc_id"), F.lit(n_slices)) == s
                )
        else:
            stats_src = part.select("doc_id", "dl", "content_sha256")
        # the postings sink and the docstats sink are independent scans
        # of the source (the docstats pass is pure-JVM dl_expr when the
        # config allows) — overlap them (guide §2.6) instead of letting
        # the cheap docstats scan wait out the full tokenize+merge
        run_jobs_concurrently(
            lambda: blocks.write.mode("overwrite").parquet(
                catalog.postings_path(index_dir, s)
            ),
            lambda: stats_src.write.mode("overwrite").parquet(
                catalog.docstats_path(index_dir) + f"/slice={s}"
            ),
        )
        catalog.write_manifest(
            index_dir,
            s,
            {
                "slice": s,
                "n_slices": n_slices,
                "seconds": round(time.time() - t0, 3),
                "num_partitions": max(1, num_partitions // n_slices),
                "block_size": block_size,
            },
        )
        built_slices += 1

    # lexicon + global stats from the written postings (column-pruned scan:
    # the binary blobs are never read)
    postings = catalog.read_postings(spark, index_dir)
    # term-sorted lexicon FILES via hash-repartition + in-partition sort:
    # per-query point reads (`term IN (...)`) prune parquet row groups
    # via min/max — at corpus scale the lexicon has billions of terms
    # and an unsorted layout would scan them all. Hash instead of range
    # partitioning (r6): repartitionByRange's sampling pass re-executes
    # the full groupBy child, doubling the lexicon aggregation per
    # build/refresh; the cost is file-LEVEL pruning (a point read now
    # checks every file's footer instead of one), which stays cheap
    # because row-group pruning inside each sorted file still bounds
    # the actual reads.
    lex_parts = max(1, num_partitions // 8)

    def write_lexicon() -> None:
        (
            postings.groupBy("term")
            .agg(
                F.sum("df").alias("df"),
                F.max("max_tf").alias("max_tf"),
                F.min("min_dl").alias("min_dl"),
            )
            .repartition(lex_parts, "term")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .parquet(catalog.lexicon_path(index_dir))
        )

    docstats = catalog.read_docstats(spark, index_dir)

    def agg_docstats():
        return docstats.agg(
            F.count("*").alias("n"),
            F.avg("dl").alias("avgdl"),
            F.sum("dl").alias("total"),
        ).collect()[0]

    # the lexicon pass reads postings files, the scalar stats read
    # docstats files — independent jobs, overlapped (guide §2.6)
    _, agg = run_jobs_concurrently(write_lexicon, agg_docstats)
    stats = {
        "n_docs": int(agg["n"]),
        "avgdl": float(agg["avgdl"] or 0.0),
        "total_terms": int(agg["total"] or 0),
        "config": cfg.to_json(),
        "block_size": block_size,
        "n_slices": n_slices,
        "built_slices": built_slices,
    }
    catalog.write_stats(index_dir, stats)
    return stats


def verify_content_sha256(
    docs: DataFrame,
    spark: SparkSession,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "content",
) -> int:
    """Post-build integrity check: recompute sha256(content) from the source
    and anti-join against the persisted docstats; returns the number of
    mismatching/missing rows (0 = invariant holds for 100% of rows)."""
    fresh = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.sha2(F.col(text_col).cast("string"), 256).alias("sha_now"),
    )
    stored = catalog.read_docstats(spark, index_dir).select(
        "doc_id", "content_sha256"
    )
    return (
        fresh.join(stored, "doc_id", "left")
        .where(
            F.col("content_sha256").isNull()
            | (F.col("content_sha256") != F.col("sha_now"))
        )
        .count()
    )

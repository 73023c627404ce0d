"""Shared per-document term-frequency cache (VERDICT r10 #4).

Four declared queries — `text_unigram_xent`, `corpus_budget_select`,
`quality_gopher_repetition`, `text_repetition_stats` — each paid their
own corpus-token explode + (doc, token) shuffle: the same ~16M-row tf
relation derived four times at sf10 (6-8 s per derivation). This module
materializes it ONCE per corpus version as a bucketed(doc_id) table —
the deployment shape a 100 TB corpus store uses anyway (the tokenized
projection is written when the corpus lands, exactly like the bucketed
silver fact tables and the MinHash band index), so every per-document
fold downstream (n_tokens, type counts, top-token) consumes it with NO
Exchange: Spark proves the groupBy(doc_id) distribution from the bucket
spec.

Semantics (default "space" tier): tf = count per (doc_id, token) of
`split(text, ' ')` with EMPTY TOKENS KEPT — so `sum(tf)` per doc equals
`size(split(...))` exactly (what text_repetition_stats needs);
consumers that exclude empties (`text_unigram_xent`,
`corpus_budget_select`) filter `token != ''` on the read, which is a
data-reducing map-side predicate, not a second derivation. Round 13
adds a second tier, `tokenizer="unicode"` (casefold + maximal
[\\p{L}\\p{N}]+ runs), materialized as its OWN bucketed table — see
the tokenizer registry below.

Staleness is `common.ensure_artifact`'s contract (stat fast path,
sha256 slow path, absolute-dir-hashed location, session caches cleared
and a staged build swapped in on a miss); `append_doc_tf` bumps an
``appends`` counter in the same stamp, which the staleness check
ignores. Reference parity note: the reference has no materialized token
store; this is an at-rest layout choice on the Spark side, and every
consumer's DuckDB oracle still derives tf inline from raw text, so the
correctness gate covers the full derivation.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import functions as F

from .common import _repo_root, ensure_bucketed_table, load

_N_BUCKETS = 32  # parallelism ceiling of the bucketed scan; see
# queries/bucketed.py:_N_BUCKETS for the measured rationale

# ------------------------------------------------------------ tokenizers
#
# Round 13 (VERDICT r12 #2): the projection supports TWO tokenizer
# tiers. "space" is the historical split-space-v2 scheme (empty tokens
# kept so sum(tf) == size(split()) — what text_repetition_stats needs);
# "unicode" is the real-corpus tier — casefold, then extract maximal
# Unicode alphanumeric runs ([\p{L}\p{N}]+), so punctuation binds to
# nothing, case folds at the token level, and non-ASCII delimiters
# (em-dash, CJK punctuation) split. Both patterns are spelled
# identically in Java regex (Spark) and RE2 (DuckDB oracles) — \p{L} /
# \p{N} are common syntax — and pytest pins the differential. Each tier
# materializes its OWN bucketed table (separate scheme tag + dir), so
# consumers mix tiers without invalidating each other.
UNICODE_TOKEN_RE = r"[\p{L}\p{N}]+"

_SCHEMES = {"space": "split-space-v2", "unicode": "unicode-word-v1"}


def _tokens_expr(tokenizer: str):
    """The token-array expression for a tier — the ONLY place a tier's
    tokenization is defined on the Spark side (append and ensure share
    it; every consumer's oracle re-derives it inline in DuckDB)."""
    if tokenizer == "space":
        return F.split("text", " ")
    if tokenizer == "unicode":
        # extract_all never yields empty tokens; a doc with no
        # alphanumeric runs contributes NO tf rows (explode drops [])
        return F.regexp_extract_all(F.lower("text"), F.lit(UNICODE_TOKEN_RE), 0)
    raise ValueError(f"unknown tokenizer {tokenizer!r} (use 'space' or 'unicode')")


def cache_location(sf_dir: str, tokenizer: str = "space") -> tuple[str, str, str]:
    """(table_name, data_dir, marker_path) for a corpus dir + tier —
    the single source of truth for the projection's scratch layout
    (bench.py's cold-build wipe uses this instead of hardcoding the
    scheme, so a layout change breaks loudly there; ADVICE r12)."""
    if tokenizer not in _SCHEMES:
        raise ValueError(f"unknown tokenizer {tokenizer!r}")
    label = hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    # the space tier keeps its historical layout (existing caches stay
    # valid); other tiers suffix both the label dir and the table name
    # with the FULL tier name (a one-letter suffix would collide for
    # future tiers sharing an initial)
    if tokenizer != "space":
        label = f"{label}_{tokenizer}"
    path = os.path.join(_repo_root(), ".scratch", "toktf", label)
    return f"toktf_{label}", path, os.path.join(path, "_SRC.json")


def _ensure_doc_tf(spark, sf_dir: str, tokenizer: str = "space") -> str:
    """Materialize (once per corpus version and tokenizer tier) the
    (doc_id, token, tf) projection of `documents` as a bucketed(doc_id)
    catalog table; returns the table name."""
    tname, path, _ = cache_location(sf_dir, tokenizer)

    def derive():
        # ONE shuffle, of the RAW docs (optimization r14, guide §2.3/2.4):
        # repartition by doc_id BEFORE the explode. HashPartitioning
        # (doc_id, N) satisfies the groupBy(doc_id, source, token)
        # clustering (subset rule) AND is exactly the bucket-id hash
        # (Murmur3 pmod N), so the aggregation runs Exchange-free and
        # each task writes its one bucket file with no second shuffle.
        # The previous shape shuffled token-scale data twice (partial-
        # aggregated tf rows into the groupBy, then the FULL tf table
        # into the bucket repartition); raw (doc_id, source, text) rows
        # are the smaller payload at every scale — the tf projection on
        # disk is ~3x the corpus text (measured at sf0.1) because each
        # token row re-carries doc_id/source. Same rows, same layout
        # (32 one-per-bucket files), content-hash-identical (A/B'd).
        # TRADEOFF (ADVICE r14): the pre-explode repartition caps the
        # tokenize/explode/fold stage at _N_BUCKETS tasks; the two-
        # shuffle shape runs that stage at scan/shuffle parallelism.
        # Re-measured r15 (same-session alternated A/B, full bucketed
        # write, scripts/ab_toktf_r15.py): one-shuffle wins 0.41 vs
        # 0.58 s at sf0.1 and 2.19 vs 8.25 s at sf10 on 32 cores — the
        # token-scale double shuffle costs far more than the capped
        # parallelism saves. On clusters with cores >> _N_BUCKETS,
        # raise _N_BUCKETS (a corpus-version layout choice) rather
        # than reverting to the two-shuffle shape.
        return (
            load(spark, sf_dir, "documents")
            .select("doc_id", "source", "text")
            .repartition(_N_BUCKETS, F.col("doc_id"))
            .select(
                "doc_id",
                "source",
                F.explode(_tokens_expr(tokenizer)).alias("token"),
            )
            # source is functionally dependent on doc_id, so carrying
            # it through the groupBy adds no groups — it rides along
            # (scheme v2) for the per-source consumers (corpus_source_kl)
            .groupBy("doc_id", "source", "token")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
            .select("doc_id", "token", "tf", "source")
        )

    return ensure_bucketed_table(
        spark, tname, path, sf_dir, "documents",
        {"n_buckets": _N_BUCKETS, "key": "doc_id", "sort": ["doc_id"],
         "scheme": _SCHEMES[tokenizer]},
        derive,
    )


def doc_tf(spark, sf_dir: str, tokenizer: str = "space"):
    """The shared (doc_id, token, tf) relation, bucketed by doc_id."""
    return spark.table(_ensure_doc_tf(spark, sf_dir, tokenizer))


def append_doc_tf(
    spark,
    sf_dir: str,
    new_docs,
    check_duplicates: bool = True,
    tokenizer: str = "space",
) -> str:
    """Incrementally EXTEND the tf projection with a new document
    batch — the hourly-cron shape (the reference's cadence,
    run_serialise_raw_data.py): tokenize ONLY the arriving docs and
    append their (doc_id, token, tf, source) rows to the bucketed
    table; the corpus is never re-tokenized. Spark appends bucketed
    data bucket-aligned (same spec), so the Exchange-free per-doc
    folds keep working over the union. Each append adds one file per
    touched bucket (and only one-file-per-bucket tables get Spark's
    SORTED BY trust) — run `sinks.compact_bucketed(spark, tname)`
    periodically to fold the batches back to one sorted file per
    bucket; spec, stamp, and later appends survive it (round 14,
    pytest-pinned in tests/test_round14_ops.py).

    Contract: ``new_docs`` (doc_id, text, source) must be NEW doc_ids —
    tf rows are per-document, so appending an existing doc would
    double-count it. SELF-ENFORCED by default (VERDICT r11 wrong #2):
    a semi-join existence probe of the batch's distinct doc_ids against
    the table runs BEFORE any write and raises ValueError on overlap —
    a doc_id-only columnar scan with the small batch-id side broadcast,
    the cheapest shape that makes a double-append a loud failure
    instead of a silent double-count. Callers whose admission is
    already gated upstream (`stream_neardup_gate` is that front door)
    pass ``check_duplicates=False`` to skip the probe.

    Stamp lifecycle (round 12 — r11 removed the stamp outright, which
    made CONSECUTIVE appends lossy: append #2's ensure() saw no marker,
    rebuilt from source, and silently discarded append #1's docs): the
    marker keeps the SOURCE signature and counts the appends, so the
    hourly cadence composes — between corpus versions every consumer
    (`doc_tf`) serves the bucket-aligned union Exchange-free, and each
    later append sees the prior ones (which is also what makes the
    duplicate guard meaningful). Any ACTUAL source change still
    stamp-misses and rebuilds from the new corpus version ALONE —
    appends never survive a version bump; they are a between-versions
    optimization, never a substitute for the staleness contract.
    Append==rebuild equality, append composition, and source-governed
    supersession are pytest-pinned."""
    tname = _ensure_doc_tf(spark, sf_dir, tokenizer)
    # probe #0 — NULL doc_ids are rejected UNCONDITIONALLY (ADVICE
    # r13: this is an integrity invariant of the projection, not a
    # duplicate probe — a gated-admission caller passing
    # check_duplicates=False must not be able to land ownerless tf
    # rows). One agg on the (small) batch; folded into the duplicate
    # probe's agg when that one runs anyway.
    sizes = new_docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("n_ids"),
        F.sum(F.col("doc_id").isNull().cast("long")).alias("n_null"),
    ).collect()[0]
    if sizes.n_null:
        raise ValueError(
            f"append_doc_tf: batch contains {sizes.n_null} NULL "
            "doc_ids — every tf row must belong to a document"
        )
    if check_duplicates:
        # probe #1 — INTRA-batch duplicates (ADVICE r12): the
        # table-overlap probe below distincts the batch side, and
        # batch_tf's groupBy would merge a repeated doc_id's rows into
        # one double-counted tf — the exact silent failure this guard
        # exists to prevent, arriving inside a single batch instead of
        # across appends.
        if sizes.n != sizes.n_ids:
            raise ValueError(
                f"append_doc_tf: batch contains duplicate doc_ids "
                f"({sizes.n} rows, {sizes.n_ids} distinct) — a repeated "
                "doc_id would merge into one double-counted tf row; "
                "dedup the batch before appending"
            )
        # probe #2 — overlap with the existing table
        dup = (
            spark.table(tname)
            .select("doc_id")
            .join(new_docs.select("doc_id").distinct(), "doc_id", "left_semi")
            .limit(5)
            .collect()
        )
        if dup:
            ids = sorted(r.doc_id for r in dup)
            raise ValueError(
                f"append_doc_tf: {tname} already contains batch doc_ids "
                f"{ids} (showing <=5) — appending an existing document "
                "would double-count its tf rows; dedup the batch or gate "
                "admission (stream_neardup_gate) and pass "
                "check_duplicates=False"
            )
    # same one-shuffle shape as the full build: partition the raw batch
    # by doc_id first, explode + fold Exchange-free, write bucket-aligned
    batch_tf = (
        new_docs.select("doc_id", "source", "text")
        .repartition(_N_BUCKETS, F.col("doc_id"))
        .select(
            "doc_id",
            "source",
            F.explode(_tokens_expr(tokenizer)).alias("token"),
        )
        .groupBy("doc_id", "source", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .select("doc_id", "token", "tf", "source")
    )
    batch_tf.write.mode("append").insertInto(tname)
    # re-stamp: the table now equals derivation(source) ∪ appended
    # batches. The source signature stays (unchanged source keeps
    # serving the union; consecutive appends compose); the counter
    # records that the table leads the source. A real source change
    # still mismatches and rebuilds from the new version alone.
    marker = cache_location(sf_dir, tokenizer)[2]
    try:
        with open(marker) as fh:
            st = json.load(fh)
        st["appends"] = int(st.get("appends", 0)) + 1
        with open(marker, "w") as fh:
            json.dump(st, fh)
    except (OSError, ValueError) as exc:
        # LOUD by design (VERDICT r12 wrong #1): the append itself
        # succeeded, but the marker _ensure_doc_tf just wrote cannot be
        # read back / re-stamped. A missing or corrupt marker makes the
        # NEXT _ensure_doc_tf rebuild from source — silently discarding
        # every appended batch. That is data loss in the hourly cadence
        # this function exists for, so surface it immediately; the
        # operator can re-stamp by hand or rebuild + re-append.
        raise RuntimeError(
            f"append_doc_tf: appended batch to {tname} but failed to "
            f"re-stamp {marker} ({exc!r}) — without the stamp the next "
            "_ensure_doc_tf will rebuild from source and DISCARD the "
            "appended docs; restore the marker before serving this table"
        ) from exc
    return tname


# ---------------------------------------------------------- declared query

_APPEND_BATCH_MOD = 4  # doc_id % 4 == 0 plays the arriving hourly batch


def toktf_append_equals_rebuild(spark, sf_dir: str):
    """Oracle-checked protocol row for the hourly tf append (VERDICT
    r11 #2, the `dedup_components_incremental` /
    `mv_incremental_maintain` incremental-equals-recompute protocol):
    the corpus is split into a BASE version (doc_id % 4 != 0), landed
    as its own corpus dir under .scratch and materialized through
    `_ensure_doc_tf`, and an ARRIVING batch (doc_id % 4 == 0) appended
    via `append_doc_tf` — tokenizing only the batch, never re-reading
    the base, exactly the reference's hourly cron cadence
    (/root/reference/scripts/run_serialise_raw_data.py:16-18) applied
    to the serving projection. The returned per-source rollup folds
    per-doc FIRST over the bucket-aligned union (the Exchange-free
    consumer shape every tokcache client uses), then aggregates the
    skinny per-doc relation by source.

    The DuckDB oracle derives the identical rollup from RAW TEXT over
    the WHOLE corpus — so a hash match proves append(base, batch) ==
    rebuild(base ∪ batch) end-to-end, with the duplicate guard live on
    the append path."""
    import shutil

    docs = load(spark, sf_dir, "documents")
    absd = os.path.abspath(sf_dir)
    label = hashlib.sha256(absd.encode()).hexdigest()[:12]
    base_dir = os.path.join(_repo_root(), ".scratch", "toktf_append_q", label)
    os.makedirs(base_dir, exist_ok=True)
    # fresh epoch per run: wipe the base corpus' projection cache so
    # the query always exercises a full build + append cycle (without
    # this, a re-run whose re-landed base is byte-identical would be
    # stamped fresh — including run 1's append — and the duplicate
    # guard would correctly refuse the re-append)
    shutil.rmtree(cache_location(base_dir)[1], ignore_errors=True)
    # land the base corpus version (full documents schema, its own dir:
    # the append must not touch the shared sf_dir projection that the
    # serving consumers read)
    (
        docs.where(F.col("doc_id") % _APPEND_BATCH_MOD != 0)
        .write.mode("overwrite")
        .parquet(os.path.join(base_dir, "documents.parquet"))
    )
    batch = docs.where(F.col("doc_id") % _APPEND_BATCH_MOD == 0).select(
        "doc_id", "text", "source"
    )
    tname = append_doc_tf(spark, base_dir, batch)
    tf = spark.table(tname)
    perdoc = tf.groupBy("doc_id", "source").agg(
        F.sum("tf").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_tf_rows"),
        F.max("tf").alias("max_tf"),
    )
    return perdoc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_tf_rows").alias("n_tf_rows"),
        F.max("max_tf").alias("max_tf"),
    )


# the oracle sees ONE corpus (base ∪ batch == documents) and derives tf
# inline from raw text — the same derivation every tokcache consumer's
# oracle uses (split-space-v2: empty tokens kept)
TOKTF_APPEND_SQL = """
WITH tf AS (
  SELECT doc_id, source, token, count(*) AS tf
  FROM (
    SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
    FROM documents
  )
  GROUP BY doc_id, source, token
),
perdoc AS (
  SELECT doc_id, source,
         SUM(tf) AS n_tokens, COUNT(*) AS n_tf_rows, MAX(tf) AS max_tf
  FROM tf GROUP BY doc_id, source
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(n_tf_rows) AS BIGINT) AS n_tf_rows,
       CAST(MAX(max_tf) AS BIGINT) AS max_tf
FROM perdoc GROUP BY source
"""


def _query_specs():
    from . import QuerySpec

    return {
        "toktf_append_equals_rebuild": QuerySpec(
            toktf_append_equals_rebuild,
            TOKTF_APPEND_SQL,
            "hourly tf-projection append == full rebuild (incremental protocol row)",
        ),
    }


QUERIES = _query_specs()

"""Tokenizer-aware token counting (real BPE) over ``documents``.

textops.q_token_count counts whitespace tokens and a BPE-ish regex
approximation — both pure JVM expressions, right for oracle-checked
stats. A pretraining pipeline, though, budgets and packs by *tokenizer*
tokens; this module runs the engine's pure-Python BPE
(functions/bpe.py) inside Arrow-batched ``mapInPandas`` — the declared
slow-path pattern (same shape as multimodal.py's decode kernels):
batch-columnar transfer, per-executor encoder with an LRU word cache,
never a per-row Python UDF.

Scale posture: the encode is embarrassingly parallel per document; the
explicit repartition buys full-core parallelism when the input layout
is coarser than compute wants (one cheap shuffle of raw text), and no
stage here shuffles anything wider than (doc_id, counts).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from ..session import default_parallelism, local_frame
from ..sources.catalog import load_table

BPE_COUNT_SCHEMA = "doc_id long, n_ws_tokens long, n_bpe_tokens long"


def _count_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # import inside the worker so the encoder (and its merge table)
    # is constructed once per executor process, not shipped per task.
    # get_token_counter is the native-tokenizer slot: with
    # SPARK_GRAFT_NATIVE_BPE=1 (+ the `tokenizers` wheel) the SAME
    # kernel runs a Rust byte-level BPE — only this callable changes,
    # the Spark plan/schema/batching stay identical (functions/bpe.py).
    from ..functions.bpe import get_token_counter

    count = get_token_counter()
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_ws_tokens": pdf["text"]
                .str.split()
                .str.len()
                .astype("int64"),
                "n_bpe_tokens": pdf["text"].map(count).astype("int64"),
            }
        )


def add_bpe_token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_tokens) for any (doc_id, text) frame
    — the alternate-column feed for seq_pack / mixture_rebalance when
    budgeting by tokenizer tokens instead of whitespace words."""
    return docs.select("doc_id", "text").mapInPandas(
        _count_batches, BPE_COUNT_SCHEMA
    )


CHUNK_BPE_SCHEMA = "doc_id long, chunk_id long, n_chunk_tokens long"


def _chunk_count_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    from ..functions.bpe import get_token_counter

    count = get_token_counter()
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "chunk_id": pdf["chunk_id"],
                "n_chunk_tokens": pdf["chunk_text"]
                .map(count)
                .astype("int64"),
            }
        )


def q_seq_pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """textops.q_seq_pack's tokenizer-aware twin: identical chunking
    and range-exchange prefix-sum packing, but the global token axis
    counts REAL BPE tokens per chunk instead of whitespace words — what
    a pretraining pipeline actually packs context windows by. The BPE
    count runs in one Arrow-batched mapInPandas between the map-only
    chunker and the packer; the packing plan (no one-task window, tiny
    O(partitions) offset aggregate) is unchanged.

    HASH-VERIFIED since r10: the oracle composes the seq_pack
    chunk/pack replay with the recursive-CTE encode kernel over the
    chunk texts' distinct pretokens (oracles._seq_pack_bpe_sql)."""
    from .textops import chunk_docs, pack_sequences

    docs = load_table(spark, sf_dir, "documents").repartition(
        default_parallelism(), "doc_id"
    )
    counted = (
        chunk_docs(docs)
        .select("doc_id", "chunk_id", "chunk_text")
        .mapInPandas(_chunk_count_batches, CHUNK_BPE_SCHEMA)
    )
    return pack_sequences(counted)


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BPE token count next to the whitespace count.

    HASH-VERIFIED since r10: the greedy encode kernel is replayed in
    DuckDB as a recursive CTE over the corpus's distinct pretokens
    (oracles._token_count_bpe_sql — the same unrolled-merge technique
    that verified the bpe_vocab trainer), so the subword segmentation
    previously declared non-SQL-expressible is oracle-backed. Tests
    additionally pin the Spark output to a driver-side pure-Python
    replica and the encoder to round-trip/determinism invariants."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        default_parallelism(), "doc_id"
    )
    return add_bpe_token_counts(docs)


# Distributed BPE TRAINING (round 5): merge-table learning, the
# training-side counterpart of the encoder above. Kept small so the
# driver-loop cost stays bounded; the replica test pins exact equality
# with functions/bpe.train_bpe on the same corpus.
N_TRAIN_MERGES = 24

# The pre-tokenizer regex of functions/bpe.pretokenize, verbatim (Java
# and Python regex agree on these ASCII classes; UTF-8 binary string
# comparison == code-point comparison, so tie-breaks agree too).
_PRETOKEN_SQL = r"regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+|\\s+', 0)"


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED BPE tokenizer training over the documents corpus —
    the Sennrich merge loop in its BATCHED fast-trainer form (r07),
    re-expressed so the corpus is touched exactly ONCE: tokenize +
    count distinct pre-tokens (one linear scan + one shuffle on the
    word), then every counting PASS runs on the WORD-COUNT table
    (O(vocabulary), not O(corpus)): adjacent-pair counts via an
    indexed-transform + explode, a bounded ≤BPE_PASS_CANDIDATES-row
    collect of the sorted pair table (count desc, pair desc — the
    classic tie-break), a driver-side greedy selection of up to
    BPE_BATCH_MERGES pairwise-COMPATIBLE merges (no shared symbol, no
    merged-string collision — the rule that makes one pass's merges
    equal to sequential application; see functions/bpe.
    train_bpe_batched), and ALL accepted merges applied vocabulary-
    wide in ONE JVM fold whose when-chain tests the batch's pair set
    (at most one accepted pair can match at a position, so the single
    left-to-right scan is exact). ``localCheckpoint`` per pass
    truncates lambda lineage (the HOF-codegen trap in BASELINE.md).

    Batching is what real fast trainers do: N_TRAIN_MERGES=24 runs in
    ~3 passes instead of 24 driver round-trips, and a production 30k
    vocabulary is ~4k passes (raise the batch/candidate knobs to go
    wider) rather than 30k sequential jobs — each pass is still one
    bounded collect + one map-only fold over the vocabulary table.

    HASH-VERIFIED since r10: the output is bpe_vocab minus the derived
    `merged` column, so the bpe_vocab trainer-replay oracle covers it
    re-projected (oracles.ORACLES["bpe_train"]). tests/test_bpe.py
    additionally pins the merge table EXACTLY equal to the pure-Python
    train_bpe_batched replica on the same text (and the replica with
    batch 1 ≡ classic train_bpe), and that the learned table drives
    BPEEncoder round-trips."""
    from pyspark.sql import functions as F

    from ..functions.bpe import (
        BPE_BATCH_MERGES,
        BPE_PASS_CANDIDATES,
        EOW,
    )

    docs = load_table(spark, sf_dir, "documents").select("text")
    toks = docs.select(F.explode(F.expr(_PRETOKEN_SQL)).alias("tok"))
    words = (
        # Reject the SAME ^\s+$ whitespace class the encoder
        # (functions/bpe.encode_pieces, tok.strip()) and the oracle
        # (_BPE_IS_WS) use — F.trim strips SPACES only, so a
        # tab/newline run would otherwise enter the vocab as a
        # mergeable "word" while encode treats it as a 1-piece
        # whitespace token (ADVICE r10; same class as the r10 encode-
        # oracle fix in commit e91f804).
        toks.where(~F.col("tok").rlike(r"^\s+$"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    vocab = words.select(
        F.concat(F.split("tok", ""), F.array(F.lit(EOW))).alias("sym"),
        "n",
    ).localCheckpoint()

    merges: list[tuple[int, str, str, int]] = []
    while len(merges) < N_TRAIN_MERGES:
        pairs_arr = F.transform(
            F.slice(F.col("sym"), 1, F.size("sym") - 1),
            lambda x, i: F.struct(
                x.alias("a"),
                F.element_at(F.col("sym"), i + 2).alias("b"),
            ),
        )
        cands = (
            vocab.select(F.explode(pairs_arr).alias("p"), "n")
            .groupBy("p.a", "p.b")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), F.desc("a"), F.desc("b"))
            .limit(BPE_PASS_CANDIDATES)
            .collect()  # bounded: ≤ BPE_PASS_CANDIDATES rows
        )
        if not cands:
            break
        # greedy compatible-batch selection — MUST mirror
        # train_bpe_batched exactly (the replica-equality pin)
        cap = min(BPE_BATCH_MERGES, N_TRAIN_MERGES - len(merges))
        used: set[str] = set()
        accepted: list[tuple[str, str, int]] = []
        for r in cands:
            if len(accepted) >= cap:
                break
            a, b = r["a"], r["b"]
            if a in used or b in used or (a + b) in used:
                continue
            accepted.append((a, b, int(r["cnt"])))
            used.update((a, b, a + b))
        for a, b, cnt in accepted:
            merges.append((len(merges), a, b, cnt))

        def make_batch_fold(batch):
            # factory closure: F.aggregate infers lambda arity from the
            # signature, so the merge fn must take exactly (acc, x)
            def batch_fold(acc, x):
                last = F.element_at(acc, -1)
                head = F.slice(acc, 1, F.size(acc) - 1)
                w = None
                for a, b, _ in batch:
                    cond = (
                        (F.size(acc) > 0)
                        & (last == F.lit(a))
                        & (x == F.lit(b))
                    )
                    rep = F.concat(head, F.array(F.lit(a + b)))
                    w = F.when(cond, rep) if w is None else w.when(cond, rep)
                return w.otherwise(F.concat(acc, F.array(x)))

            return batch_fold

        fold = F.aggregate(
            F.col("sym"),
            F.array().cast("array<string>"),
            make_batch_fold(tuple(accepted)),
        )
        vocab = vocab.select(fold.alias("sym"), "n").localCheckpoint()

    return local_frame(
        spark, merges, "merge_rank long, left string, right string, pair_count long"
    )


def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-VERIFIED learned-BPE merge table (r08 verdict ask #3): the
    q_bpe_train output re-shipped as (merge_rank, left, right, merged,
    pair_count) so the DRIVER gate — not just pytest — pins the learned
    artifact. The training loop is deterministic (greedy batched
    selection with the cnt-desc/pair-desc tie-break over exact integer
    counts), so the DuckDB oracle replays the whole trainer: the same
    pre-tokenizer regex, the word-count table, and the 3 unrolled
    candidate→greedy-select→apply passes (oracles.py builds the SQL by
    unrolling N_TRAIN_MERGES/BPE_BATCH_MERGES passes; per-pass CTEs are
    MATERIALIZED against DuckDB's re-inlining blowup). A hash match
    proves the distributed trainer learns EXACTLY the table the
    sequential reference algorithm defines — converting the BPE family's
    learned artifact from pytest-pinned to driver-verified.

    Since r10 the whole BPE family is inside the hash gate: this row
    verifies the learned artifact, token_count_bpe / seq_pack_bpe
    replay the per-document encode kernel (oracles._bpe_encode_ctes),
    and bpe_train reuses this row's oracle re-projected."""
    from pyspark.sql import functions as F

    return q_bpe_train(spark, sf_dir).select(
        "merge_rank",
        "left",
        "right",
        F.concat("left", "right").alias("merged"),
        "pair_count",
    )

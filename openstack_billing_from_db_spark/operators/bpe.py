"""Corpus-scale BPE merge-rule training (Sennrich et al. 2016) — the
tokenizer-training step of an LLM data pipeline, expressed as DataFrame
ops.

The classic trainer iterates over a WORD-FREQUENCY table, not the raw
corpus: the corpus is scanned once to build ``(word, freq)``, and every
merge iteration then runs on vocabulary-sized data (≪ corpus; this is
what makes trainers tractable, here and in HF tokenizers). Per round
of :func:`bpe_train_batched` (the one trainer; :func:`bpe_train` is its
one-merge-per-round case):

1. adjacent symbol pairs, frequency-weighted → one partial-agg groupBy;
2. top ``window`` pairs by (count desc, pair asc) → TakeOrdered to the
   driver, which accepts up to ``batch`` non-interacting merges;
3. apply the merges map-side as a LEFT-TO-RIGHT NON-OVERLAPPING literal
   string replace on a BOUNDARY-SAFE encoding of the symbol string —
   exactly greedy BPE application (see ``_apply_merge_sql``), with the
   same ``replace`` semantics in SQL, so the DuckDB oracle replays
   training verbatim.

Scale notes (100 TB): the corpus scan is one shuffle (word counts); the
iteration loop touches only the vocabulary table (persisted; typically
10⁵-10⁷ rows at web scale — single-executor-broadcastable), and each
round is a groupBy + a constant-size driver fetch. Driver traffic per
round is ``window`` rows (ONE row for sequential training).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openstack_billing_from_db_spark.functions.sql import sql_string
from openstack_billing_from_db_spark.operators.caching import tracked_persist
from openstack_billing_from_db_spark.operators.dedup import _word_shingles_sql
from openstack_billing_from_db_spark.operators.text import words


def _apply_merge_sql(syms: str, pair: str, merged: str) -> str:
    """Merge every left-to-right non-overlapping occurrence of the
    adjacent symbol ``pair`` in a space-joined symbol string — EXACT
    greedy BPE application, emitted as a SQL source string (the merge
    chains are built in driver loops; chained py4j Column calls cost a
    round trip per operator — single-parse SQL keeps the loop cheap).

    A naive ``replace(syms, 'b c', 'bc')`` can merge across symbol
    boundaries: 'b c' matches inside 'ab c' (symbols ['ab','c']),
    which is not a (b, c) symbol pair (ADVICE r3). Encoding the
    sequence with the separators doubled and the ends wrapped —
    ``'a b c' → ' a  b  c '`` — makes every symbol delimited on both
    sides, so the literal target ``' b  c '`` can only match a true
    adjacent pair (symbols are whitespace-split words' characters and
    can never contain a space). Left-to-right non-overlapping replace
    on that encoding IS the greedy merge scan; decode by trimming the
    wrap and halving the separators."""
    enc = f"concat(' ', replace({syms}, ' ', '  '), ' ')"
    target = " " + pair.replace(" ", "  ") + " "
    applied = f"replace({enc}, {sql_string(target)}, {sql_string(' ' + merged + ' ')})"
    return f"replace(btrim({applied}), '  ', ' ')"


def bpe_train(
    docs: DataFrame,
    *,
    text_col: str = "text",
    n_merges: int = 3,
) -> DataFrame:
    """Learn ``n_merges`` BPE merge rules from the corpus — sequential
    greedy BPE, i.e. :func:`bpe_train_batched` at one merge per round
    (``batch=1, window=1``: the top pair is always accepted). Returns a
    tiny DataFrame of the learned rules: (merge_rank, pair, merged,
    pair_count) — the artifact a tokenizer ships."""
    return bpe_train_batched(
        docs, text_col=text_col, n_rounds=n_merges, batch=1, window=1
    ).drop("round")


def bpe_encode(
    docs: DataFrame,
    *,
    text_col: str = "text",
    n_merges: int = 3,
) -> DataFrame:
    """Tokenize the corpus with BPE merge rules trained on it: per
    document, the whitespace word count and the post-merge BPE token
    count — the sequence-length accounting step that sizes training
    batches (and the denominator of tokens-per-doc curation filters).

    Applies the rules the way production tokenizers do: NOT by
    re-walking every document, but by building the word → token-count
    map once on the DISTINCT vocabulary (each rule replayed in rank
    order with the same boundary-safe merge as training), then joining
    the exploded corpus against that map. At 100 TB the vocabulary is
    10⁵-10⁷ rows — broadcastable — so the corpus path is one explode +
    broadcast join + partial-agg groupBy; the training loop's driver
    barrier touches only vocabulary-sized data (see ``bpe_train``).
    """
    rules = sorted(
        bpe_train(docs, text_col=text_col, n_merges=n_merges).collect(),
        key=lambda r: r.merge_rank,
    )
    vocab = (
        docs.select(F.explode(words(F.col(text_col))).alias("w"))
        .distinct()
        .select("w", F.array_join(F.split(F.col("w"), ""), " ").alias("syms"))
    )
    syms_sql = "syms"
    for r in rules:
        syms_sql = _apply_merge_sql(syms_sql, r.pair, r.merged)
    vocab = vocab.selectExpr("w", f"{syms_sql} AS syms")
    wtok = vocab.select(
        "w", F.size(F.split(F.col("syms"), " ")).cast("long").alias("n_tok")
    )
    tok = docs.select("doc_id", F.explode(words(F.col(text_col))).alias("w"))
    return tok.join(F.broadcast(wtok), "w").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_tok").alias("n_tokens_bpe"),
    )


def _pair_conflicts(p: tuple[str, str, str], q: tuple[str, str, str]) -> bool:
    """Whether two candidate merges may INTERACT: they share a symbol,
    one's merged symbol collides with a symbol of the other ((a,b)→'ab'
    can equal an existing symbol string and fold counts), or both merge
    to the same string (('a','bc') and ('ab','c') both make 'abc').
    Non-conflicting merges touch disjoint adjacencies, so applying one
    cannot create or destroy occurrences of the other — batch-applying
    them equals applying them sequentially."""
    (p1, p2, pm), (q1, q2, qm) = p, q
    return (
        p1 in (q1, q2)
        or p2 in (q1, q2)
        or pm in (q1, q2)
        or qm in (p1, p2)
        or pm == qm
    )


def bpe_train_batched(
    docs: DataFrame,
    *,
    text_col: str = "text",
    n_rounds: int = 8,
    batch: int = 8,
    window: int | None = None,
) -> DataFrame:
    """Batched BPE training (VERDICT r11 Next #5): sequential training
    (``batch=1, window=1``, :func:`bpe_train`) runs ONE Spark job per
    merge — fine at toy vocab sizes, but a production 30k-merge
    vocabulary means 30k sequential driver barriers. This
    trainer accepts up to ``batch`` NON-INTERACTING merges per job, so
    training is ~batch× fewer corpus-free vocabulary passes (n_rounds
    jobs for up to n_rounds·batch merges; driver traffic per round is
    the ``window`` candidate rows, still vocabulary-independent).

    Per round: pair counts over the current symbol table (one partial-
    agg groupBy — the SAME aggregate the sequential trainer runs), the
    top ``window`` (default 4·batch) pairs by (count desc, pair asc)
    fetch to the driver, and a candidate is accepted iff NO
    higher-ranked WINDOW pair conflicts with it (:func:`_pair_conflicts`
    — the rule is deliberately order-free over the window, not
    accepted-set-greedy, so a SQL oracle replays it with one
    NOT-EXISTS self-join instead of a sequential scan). The first
    ``batch`` accepted merges apply in rank order map-side (the same
    boundary-safe ``_apply_merge_sql`` replace chain, one projection).

    At ``batch=1, window=1`` the top pair is always accepted, which is
    EXACTLY sequential greedy BPE; where merges don't interact, larger
    batches are too (pinned by test); where they do, later batch
    members may deviate from the sequential trainer's picks — the
    standard batched-BPE trade — while staying deterministic and
    oracle-replayable: counts are as-of round start, acceptance is a
    pure function of the window.
    Returns (merge_rank, round, pair, merged, pair_count)."""
    spark = docs.sparkSession
    if window is None:
        window = 4 * batch
    if window < batch:
        raise ValueError(f"window ({window}) must be >= batch ({batch})")
    vocab = tracked_persist(
        docs.select(F.explode(words(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "freq",
            F.array_join(F.split(F.col("w"), ""), " ").alias("syms"),
        )
    )

    shingle_sql = _word_shingles_sql("split(syms, ' ')", 2)
    rules = []
    cur = vocab
    for rnd in range(n_rounds):
        top = (
            cur.selectExpr("freq", f"explode({shingle_sql}) AS pair")
            .groupBy("pair")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.col("c").desc(), F.col("pair"))
            .limit(window)
            .collect()
        )
        if not top:
            break
        cands = []
        for r in top:
            a, b = r.pair.split(" ")
            cands.append((a, b, a + b, r.pair, int(r.c)))
        accepted = []
        for k, (a, b, m, pair, c) in enumerate(cands):
            if len(accepted) >= batch:
                break
            if any(
                _pair_conflicts((a, b, m), (qa, qb, qm))
                for qa, qb, qm, _, _ in cands[:k]
            ):
                continue
            accepted.append((a, b, m, pair, c))
        # rank-1 never conflicts, so progress is guaranteed
        syms_sql = "syms"
        for _, _, m, pair, c in accepted:
            rules.append((len(rules), rnd, pair, m, c))
            syms_sql = _apply_merge_sql(syms_sql, pair, m)
        # lazy localCheckpoint: truncate the lineage so round r's
        # pair-count job replays only THIS round's replace chain over
        # the checkpointed vocabulary instead of all r·batch nested
        # replaces since round 0 (O(R) total work, not O(R²); the
        # vocabulary is tiny — kilobytes to megabytes — so the
        # checkpoint cost is noise)
        cur = cur.selectExpr("freq", f"{syms_sql} AS syms").localCheckpoint(
            eager=False
        )
    return spark.createDataFrame(
        rules,
        "merge_rank long, round long, pair string, merged string, "
        "pair_count long",
    )

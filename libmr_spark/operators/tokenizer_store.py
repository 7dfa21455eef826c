"""Tokenizer ARTIFACT store: BPE merges as a versioned, manifest-
committed table — the missing link between training a tokenizer
(``bpe_train_merges``) and using one (``token_id_encoding``). A
production pipeline trains merges rarely and encodes petabytes against
a PINNED merge list; what needs to be durable, versioned and
reproducible is the merge table itself:

- ``merges/batch=<tag>`` — (rnd, l, r, n) rows, committed under the
  standard ``_BATCHES`` manifest (publish-last, crash-invisible).
  Each training call CONTINUES from the stored list: BPE training is
  sequentially greedy, so training 3 rounds then 2 more commits the
  identical table as training 5 in one sitting — which is exactly the
  oracle the gate query holds it to.
- encoding serves against the stored list (optionally pinned
  ``as_of_batches`` — the fleet-snapshot contract), segmenting the
  DISTINCT words (Heaps-bounded) and joining back to documents, so
  the corpus pays one tokenize pass and the merge machinery runs over
  vocabulary-sized state only.

Reference parity: none to match (the reference has no tokenizer
surface); SURVEY §7.2a round-10 #3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..core import store
from ..core.layout import freeze, release
from ..core.smalldf import local_df


_PARAMS = {"kind": "bpe-merges", "tokenizer": "ws-lower"}


def _word_syms(words: DataFrame) -> DataFrame:
    """(word, freq?) → + syms: the character-split start state."""
    return words.withColumn(
        "syms",
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.substring(F.col("word"), i, 1),
        ),
    )


def apply_merge(syms_col, left: str, right: str):
    """One-pass left-to-right greedy application of merge (l, r) to a
    symbol array — provably equal to iterate-first-occurrence (merging
    can never create a new occurrence adjacent to its own site; see
    bpe_train_merges). A Column expression: runs JVM-side."""
    return F.aggregate(
        syms_col,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(left + right))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def top_pair(vocab: DataFrame):
    """The round's winning adjacent symbol pair over a (word, freq,
    syms) vocabulary: max summed frequency, (n DESC, l ASC, r ASC)
    tie-break — the ONE copy of the selection both the store trainer
    and the bpe_train_merges gate query run, so the cross-query
    hash-equivalence contract can't silently fork. Returns
    (l, r, n) or None when the vocabulary is exhausted."""
    rows = (
        vocab.filter(F.size("syms") >= 2)
        .select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("syms") - 1),
                    lambda i: F.struct(
                        F.element_at("syms", i).alias("l"),
                        F.element_at("syms", i + 1).alias("r"),
                    ),
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.col("n").desc(), F.col("l").asc(), F.col("r").asc())
        .limit(1)
        .collect()
    )
    if not rows:
        return None
    return rows[0].l, rows[0].r, int(rows[0].n)


def _corpus_vocab(docs: DataFrame, text_col: str) -> DataFrame:
    tok = docs.select(
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda w: w != ""
            )
        ).alias("word")
    )
    return _word_syms(tok.groupBy("word").agg(F.count(F.lit(1)).alias("freq")))


def bpe_store_merges(
    spark, store_path: str, as_of_batches: int | None = None
) -> list:
    """The stored merge list in training order: [(rnd, l, r, n), ...].
    Driver-side rows by design — the merge table is the tokenizer
    artifact (vocab-scale, ~10⁴-10⁵ rows at production size), and
    encode needs it sequentially."""
    tags = store.tags(store_path, _PARAMS)
    if not tags:
        return []
    if as_of_batches is not None:
        if not 0 < as_of_batches <= len(tags):
            raise ValueError(
                f"as_of_batches={as_of_batches} out of range for store "
                f"{store_path} with {len(tags)} committed batches"
            )
        tags = tags[:as_of_batches]
    rows = (
        store.read_batches(spark, store_path, "merges", tags)
        .orderBy("rnd")
        .collect()
    )
    return [(r.rnd, r.l, r.r, r.n) for r in rows]


def bpe_store_train(
    spark, store_path: str, docs: DataFrame, rounds: int, text_col: str = "text"
) -> list:
    """Learn ``rounds`` MORE merges continuing from the stored list and
    commit them as one batch. Returns the newly learned merges.

    Continuation = replay the stored merges onto the fresh vocabulary,
    then keep training; because greedy BPE is sequential, the store
    after train(3)+train(2) is bit-identical to train(5) — the
    versioning is free. Cost per round: one pair-count aggregate over
    the VOCABULARY (the corpus is touched once, by the word count)."""
    stored = bpe_store_merges(spark, store_path)
    vocab = _corpus_vocab(docs, text_col)
    for _rnd, l, r, _n in stored:
        vocab = vocab.select("word", "freq", apply_merge("syms", l, r).alias("syms"))
    vocab = freeze(vocab)

    new_merges: list = []
    next_rnd = (stored[-1][0] + 1) if stored else 1
    for rnd in range(next_rnd, next_rnd + rounds):
        top = top_pair(vocab)
        if top is None:
            break  # vocabulary exhausted: commit what was learned
        l, r, n = top
        new_merges.append((rnd, l, r, n))
        prev, vocab = vocab, freeze(vocab.select("word", "freq", apply_merge("syms", l, r).alias("syms")))
        release(prev)

    with store.commit(store_path, _PARAMS) as tx:
        tx.write("merges", local_df(spark, new_merges, "rnd int, l string, r string, n bigint"))
    return new_merges


def bpe_store_encode(
    spark,
    store_path: str,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    as_of_batches: int | None = None,
) -> DataFrame:
    """Encode ``docs`` under the PINNED stored merge list: returns
    (id, syms) with each document's full symbol sequence after greedy
    BPE. Segmentation is computed once per DISTINCT word
    (Heaps-bounded) and joined back positionally, so document order is
    exact and the corpus never re-enters the merge machinery."""
    merges = bpe_store_merges(spark, store_path, as_of_batches=as_of_batches)
    if not merges:
        raise ValueError(f"empty bpe store at {store_path} (no committed merges)")

    words = docs.select(
        F.col(id_col),
        F.posexplode(
            F.filter(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda w: w != ""
            )
        ).alias("pos", "word"),
    )
    seg = _word_syms(words.select("word").distinct())
    for _rnd, l, r, _n in merges:
        seg = seg.select("word", apply_merge("syms", l, r).alias("syms"))
    seg = freeze(seg)

    # no broadcast hint: the segmentation map is vocabulary-sized
    # (Heaps-bounded) — AQE broadcasts it while it fits and falls back
    # to a shuffle join past the bound (the r7 vocab-broadcast rule)
    return (
        words.join(seg, "word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "syms"))),
                    lambda s: s.syms,
                )
            ).alias("syms")
        )
    )


def min_piece_segmentation(
    spark,
    words: "DataFrame",
    pieces: "DataFrame",
    max_iter: int = 32,
) -> "DataFrame":
    """Minimal-piece subword segmentation — the DP at the core of the
    WordPiece/SentencePiece tokenizer family, as BFS over character
    positions: a word's states are (pos, k-pieces-consumed); each
    round extends every frontier state by every vocabulary piece that
    matches at its position; the FIRST round in which a word reaches
    its end is, by BFS, its minimal piece count.  No tie-break is
    needed because only the minimal COUNT is emitted — the property
    that makes the result exactly provable cross-engine (a specific
    argmin segmentation would need a total order over equal-cost
    paths; the count does not).

    ``words``: one column ``word`` (distinct, non-empty).  ``pieces``:
    one column ``piece`` — must include every single character of the
    corpus or un-segmentable words never finish (they surface as
    absent rows; callers building the vocab from corpus chars get
    totality by construction).  Emits ``(word, n_pieces)``.

    Scale shape: the state space is distinct-words-bounded (positions
    × rounds, never corpus-bounded), the pieces side is a
    vocabulary-bounded broadcast, and each BFS round is one
    substring-equality join — O(max word length) rounds of
    Heaps-law-sized work, the same envelope as the BPE training loop
    (`bpe_store_train`)."""
    from pyspark.sql import functions as F

    pieces = pieces.select("piece", F.length("piece").alias("plen"))
    words = words.select("word", F.length("word").alias("wlen"))
    frontier = words.select("word", "wlen", F.lit(0).alias("pos"))
    seen = freeze(frontier.select("word", "pos"))
    done_parts = []
    for step in range(1, max_iter + 1):
        expanded = freeze(
            frontier.join(
                F.broadcast(pieces),
                F.substring(F.col("word"), F.col("pos") + 1, F.col("plen"))
                == F.col("piece"),
            )
            .select("word", "wlen", (F.col("pos") + F.col("plen")).alias("pos"))
            .distinct()
        )
        finished = expanded.filter(F.col("pos") == F.col("wlen")).select(
            "word", F.lit(step).alias("n_pieces")
        )
        done_parts.append(finished)
        frontier = freeze(
            expanded.filter(F.col("pos") < F.col("wlen"))
            .join(finished.select("word"), "word", "left_anti")
            .join(seen, ["word", "pos"], "left_anti")
        )
        if frontier.isEmpty():
            break
        seen = freeze(
            seen.unionByName(frontier.select("word", "pos"))
        )
    out = done_parts[0]
    for d in done_parts[1:]:
        out = out.unionByName(d)
    # BFS emits a word exactly once (finished words leave the
    # frontier), so this is a disjoint union — one row per word
    return out


def unigram_viterbi_segment(
    spark, words: "DataFrame", piece_costs: "DataFrame"
) -> "DataFrame":
    """Viterbi E-step of the unigram-LM tokenizer: for every distinct
    word, the OPTIMAL segmentation under per-piece costs — minimal
    total cost, ties broken by the lexicographically smallest path
    string.  That tie-break is well-defined and prefix-compatible
    because two distinct segmentations of one word spell the same
    characters and first differ at a boundary (space vs letter, and
    space sorts below every token character), so the (cost, path)
    tuple order is a true DP order — the property that makes the
    whole E-step exactly provable against an unrolled SQL relaxation
    over the identical integer micro-costs.

    ``words``: column ``word`` (distinct, non-empty).
    ``piece_costs``: ``(piece, cost_u)`` with integer micro-nat costs
    (``round(-ln p * 1e6)``) — integer arithmetic end to end, so both
    engines add bit-identical operands.  Emits ``(word, path)`` with
    ``path`` the space-joined optimal pieces; words not coverable by
    the vocabulary are absent.

    Scale shape: the piece table is vocabulary-bounded (collected and
    shipped with the task — the tokenizer-artifact contract, same as
    ``bpe_store_encode``), the DP runs per DISTINCT word inside one
    Arrow-batched ``mapInPandas`` pass (Heaps-bounded state, no
    iterative Spark rounds), and the corpus never enters."""
    import pandas as pd

    rows = piece_costs.collect()  # vocabulary-bounded by contract
    costs = {r["piece"]: int(r["cost_u"]) for r in rows}
    max_piece = max((len(p) for p in costs), default=1)

    def seg(batches):
        for pdf in batches:
            out_w, out_p = [], []
            for word in pdf["word"]:
                n = len(word)
                best = [None] * (n + 1)
                best[0] = (0, "")
                for pos in range(n):
                    cur = best[pos]
                    if cur is None:
                        continue
                    c0, p0 = cur
                    for ln in range(1, min(max_piece, n - pos) + 1):
                        pc = costs.get(word[pos : pos + ln])
                        if pc is None:
                            continue
                        piece = word[pos : pos + ln]
                        cand = (c0 + pc, p0 + " " + piece if p0 else piece)
                        if best[pos + ln] is None or cand < best[pos + ln]:
                            best[pos + ln] = cand
                if best[n] is not None:
                    out_w.append(word)
                    out_p.append(best[n][1])
            yield pd.DataFrame({"word": out_w, "path": out_p})

    return words.select("word").mapInPandas(seg, "word string, path string")


def unigram_em_train(
    spark,
    words: "DataFrame",
    pieces: "DataFrame",
    em_rounds: int = 2,
) -> "DataFrame":
    """Unigram-LM tokenizer training (SentencePiece-style hard EM)
    over distinct words — the training half that completes the
    optimal-segmentation machinery (:func:`min_piece_segmentation` is
    the unit-cost special case; :func:`unigram_viterbi_segment` is the
    weighted E-step this loop drives):

    - seed counts: per-piece NON-OVERLAPPING occurrence counts over
      the distinct words, weighted by corpus word frequency (the
      ``replace``-delta count — identical left-to-right semantics in
      every engine);
    - E-step: Viterbi-segment every word under integer micro-nat
      costs ``round(-ln(cnt/total) * 1e6)`` — the DECIMAL-washed
      determinism recipe, addition-exact because costs are BIGINTs;
    - M-step: re-count pieces from the winning paths (frequency-
      weighted); pieces that won no path drop out (SentencePiece
      pruning), and coverage survives because every surviving word's
      winning path uses only surviving pieces.

    Emits the final artifact ``(piece, n_uses, cost_u)``.  Scale
    shape: the corpus pays ONE word-count pass; everything after is
    Heaps-bounded (distinct words) x vocabulary-bounded (pieces), the
    ``bpe_store_train`` envelope."""
    from pyspark.sql import functions as F

    # both inputs are bounded (distinct words / vocabulary); one
    # materialization each keeps the corpus scan and the candidate
    # mining from re-running under every EM round's jobs
    words = freeze(words)
    pieces = freeze(pieces)
    occ = (
        words.join(F.broadcast(pieces), F.expr("instr(word, piece) > 0"))
        .select(
            "piece",
            (
                F.col("freq")
                * (
                    (F.length("word") - F.length(F.expr("replace(word, piece, '')")))
                    / F.length("piece")
                ).cast("long")
            ).alias("c"),
        )
    )
    counts = occ.groupBy("piece").agg(F.sum("c").cast("long").alias("cnt"))

    def _costed(cnt_df):
        total = cnt_df.groupBy().agg(F.sum("cnt").alias("total"))
        return cnt_df.crossJoin(F.broadcast(total)).select(
            "piece",
            "cnt",
            F.round(
                -F.log(F.col("cnt").cast("double") / F.col("total").cast("double"))
                * F.lit(1000000.0),
                0,
            )
            .cast("long")
            .alias("cost_u"),
        )

    for _ in range(em_rounds):
        seg = unigram_viterbi_segment(spark, words, _costed(counts))
        counts = freeze(
            seg.join(words, "word")
            .select(
                F.explode(F.split("path", " ")).alias("piece"), "freq"
            )
            .groupBy("piece")
            .agg(F.sum("freq").cast("long").alias("cnt"))  # vocabulary-bounded
        )
    return _costed(counts).select(
        "piece", F.col("cnt").alias("n_uses"), "cost_u"
    )

"""Distributed BPE tokenizer training (byte-pair-encoding merges).

Classic word-frequency BPE (Sennrich, Haddow & Birch 2016, "Neural
Machine Translation of Rare Words with Subword Units", ACL — public):
train on the DISTINCT-WORD frequency table, not the raw token stream.
Each word is a symbol sequence (characters + an end-of-word marker);
each merge round counts adjacent symbol pairs weighted by word
frequency, picks the most frequent pair, and rewrites it into a single
symbol everywhere it occurs (leftmost-non-overlapping, the standard
greedy semantics). The ordered list of merges IS the tokenizer.

Scale shape (the reason word-frequency BPE is the 100-TB formulation):

* The iteration state is the VOCABULARY table (word, freq, symbols) —
  heavy-tailed corpora have billions of tokens but orders of magnitude
  fewer distinct words, and the initial ``groupBy(word)`` is the
  map-side-combinable wordcount shuffle. After that, no round ever
  touches the corpus again.
* Pair counts are DELTA-MAINTAINED: the (l, r, cnt) table is built
  once from the full vocabulary, then each merge subtracts the changed
  words' old pairs and adds their new ones — the per-round explode and
  shuffle track the worklist (words containing the winning pair), not
  the vocabulary, and the 1-row argmax collect (a scalar-sized sink,
  consistent with the repo's collect policy) reads the maintained
  distinct-pair table. This is what a 32k-round production vocabulary
  needs: round cost decays with the worklist instead of staying
  O(vocab).
* The rewrite is WORKLIST-RESTRICTED and fully JVM-side: a
  ``zip_with`` adjacency probe gates a higher-order ``aggregate`` fold
  (whole-stage codegen, no Python), so only words actually containing
  the winning pair are rewritten; everything else passes through
  untouched. Lineage is truncated with a lazy ``localCheckpoint`` per
  round so the plan does not grow with the merge count.

Determinism / oracle parity: pair counts are exact integers; the
argmax tiebreak is (count desc, left asc, right asc) under binary
string collation, identical in Spark and DuckDB. The greedy
leftmost-non-overlap rewrite is reproduced in the SQL twin
(``sql_bpe_merges``) with the run-alternation identity: two matches of
pair (l, r) can only be adjacent when l = r (a match at p and p+1
forces sym[p+1] = r = l), so merging the ODD-ranked matches of every
maximal consecutive run is exactly the greedy scan. The fold below
realises the same semantics: a merged symbol ``l || r`` is strictly
longer than ``l``, so it can never be re-matched as the left element
within the same round.

Reference anchor: the reference has no tokenizer training; this is a
training-data pipeline operator (SURVEY §2c family) extending its text
layer (token counting, pagerank.py:273-318 search tokenization) to the
subword-vocabulary construction step an LLM corpus pipeline needs.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .analysis import sql_tokens, tokens_expr

END_OF_WORD = "</w>"  # multi-char marker: can never collide with a 1-char symbol

MERGE_SCHEMA = T.StructType(
    [
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("left", T.StringType(), False),
        T.StructField("right", T.StringType(), False),
        T.StructField("freq", T.LongType(), False),
    ]
)


def word_frequencies(
    docs: DataFrame, text_col: str = "text", lowercase: bool = True
) -> DataFrame:
    """(word, freq) over whitespace tokens — the BPE training table."""
    text = F.col(text_col)
    if lowercase:
        text = F.lower(text)
    return (
        docs.select(F.explode(tokens_expr(text)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
    )


def _initial_symbols(word: Column) -> Column:
    """Characters + end-of-word marker ('(?s).' = one codepoint)."""
    return F.concat(
        F.regexp_extract_all(word, F.lit("(?s)."), 0),
        F.array(F.lit(END_OF_WORD)),
    )


def _adjacent_pairs(symbols: Column) -> Column:
    """array<struct<l,r>> of adjacent symbol pairs (zip against shift-1)."""
    shifted = F.slice(symbols, 2, F.greatest(F.size(symbols) - 1, F.lit(0)))
    return F.filter(
        F.zip_with(
            symbols,
            shifted,
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        ),
        lambda p: p["r"].isNotNull(),
    )


def _merge_fold(symbols: Column, left: str, right: str) -> Column:
    """Greedy leftmost-non-overlapping merge of (left,right) -> left||right.

    Left fold: if the accumulator's last element is ``left`` and the
    incoming symbol is ``right``, replace the last element with the
    merged symbol; otherwise append. Correct w.r.t. overlap because a
    merged symbol is strictly longer than ``left`` and thus never
    re-matches as the left element in the same round (see module doc).
    """
    merged = left + right

    def step(acc: Column, s: Column) -> Column:
        is_match = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right))
        )
        return F.when(
            is_match,
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s)))

    return F.aggregate(symbols, F.array().cast("array<string>"), step)


def bpe_merges(
    docs: DataFrame,
    num_merges: int = 12,
    text_col: str = "text",
    min_count: int = 2,
    lowercase: bool = True,
    metrics_out: list | None = None,
    delta_threshold: float = 0.1,
) -> DataFrame:
    """Train ``num_merges`` BPE merge rules; returns the merge table.

    Output: rank (int, 0-based merge order), left, right (the merged
    symbol pair), freq (long, the pair's weighted count when chosen).
    Stops early when no remaining pair reaches ``min_count``.

    Pair-count maintenance is AUTO, one Spark job per round in both
    regimes: while the worklist (words containing the winning pair) is
    a large fraction of the vocabulary, each round re-counts pairs with
    the full data-bound explode+sum — the shape whose N->4N efficiency
    the BENCH.md sweep certifies; once a round changes fewer than
    ``delta_threshold`` of the words, the loop switches (one-way) to
    DELTA-maintained counts: subtract the changed words' old pairs,
    add their new ones (the stream_incremental_ppmi count-maintenance
    pattern), so late-round cost tracks the worklist, not the
    vocabulary — the regime a 32k-round production vocabulary lives
    in. Both modes produce identical integer counts, so the schedule
    never changes the learned rules. The changed-word count driving
    the switch rides an Observation on the lazily-checkpointed state
    and is read one round later, when the recount has materialized it
    — no extra job, no blocking.

    ``metrics_out``: bench hook — when a list is passed, one dict per
    round is appended with the round wall, the worklist size, and the
    count mode (the delta-mode worklist count adds a bench-only job).
    """
    if num_merges < 1:
        raise ValueError("bpe_merges: num_merges must be >= 1")
    if min_count < 1:
        raise ValueError("bpe_merges: min_count must be >= 1")
    spark = docs.sparkSession

    words = word_frequencies(docs, text_col, lowercase).select(
        "freq", _initial_symbols(F.col("word")).alias("symbols")
    )
    # one vocabulary-sized materialization; every round reads this state
    words = words.localCheckpoint(eager=True)
    n_words = words.count()

    def _recount(w: DataFrame) -> DataFrame:
        return (
            w.select(
                "freq", F.explode(_adjacent_pairs(F.col("symbols"))).alias("p")
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("cnt"))
        )

    pc = _recount(words).localCheckpoint(eager=True)

    rules: list[tuple[int, str, str, int]] = []
    delta_mode = False
    pending_obs: Observation | None = None
    for rank in range(num_merges):
        t0 = time.time()
        best = (
            pc.orderBy(F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .collect()
        )
        # the argmax just materialized pc — in recount mode that read
        # the previous round's lazily-checkpointed state, so its
        # Observation is now available without blocking
        if pending_obs is not None:
            prev_changed = int(pending_obs.get["n"] or 0)
            pending_obs = None
            if prev_changed <= delta_threshold * n_words:
                delta_mode = True
        if not best or best[0]["cnt"] < min_count:
            break
        left, right, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
        rules.append((rank, left, right, cnt))

        has_pair = F.exists(
            _adjacent_pairs(F.col("symbols")),
            lambda p: (p["l"] == F.lit(left)) & (p["r"] == F.lit(right)),
        )
        n_changed: int | None = None
        if delta_mode:
            # worklist rounds: only words containing the winning pair
            # change; their pre/post-merge sequences drive the delta
            changed = words.filter(has_pair)
            if metrics_out is not None:
                n_changed = changed.count()
            rewritten = changed.select(
                "freq",
                _merge_fold(F.col("symbols"), left, right).alias("symbols"),
            )
            delta = (
                changed.select(
                    (-F.col("freq")).alias("w"),
                    F.explode(_adjacent_pairs(F.col("symbols"))).alias("p"),
                )
                .unionByName(
                    rewritten.select(
                        F.col("freq").alias("w"),
                        F.explode(_adjacent_pairs(F.col("symbols"))).alias("p"),
                    )
                )
                .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                .agg(F.sum("w").alias("d"))
                .filter(F.col("d") != 0)
            )
            pc_next = (
                pc.join(delta, ["l", "r"], "full_outer")
                .select(
                    "l",
                    "r",
                    (
                        F.coalesce(F.col("cnt"), F.lit(0).cast("long"))
                        + F.coalesce(F.col("d"), F.lit(0).cast("long"))
                    ).alias("cnt"),
                )
                .filter(F.col("cnt") > 0)
            )
            words = words.withColumn(
                "symbols",
                F.when(
                    has_pair, _merge_fold(F.col("symbols"), left, right)
                ).otherwise(F.col("symbols")),
            ).localCheckpoint(eager=False)
            pc = pc_next.localCheckpoint(eager=False)
        else:
            obs = Observation()
            staged = (
                words.select(
                    "freq",
                    F.when(
                        has_pair, _merge_fold(F.col("symbols"), left, right)
                    )
                    .otherwise(F.col("symbols"))
                    .alias("symbols"),
                    has_pair.cast("long").alias("chg"),
                )
                .observe(obs, F.sum("chg").alias("n"))
            )
            words = staged.select("freq", "symbols").localCheckpoint(
                eager=False
            )
            pending_obs = obs
            pc = _recount(words).localCheckpoint(eager=False)
        if metrics_out is not None:
            metrics_out.append(
                {"rank": rank, "pair": (left, right), "freq": cnt,
                 "changed_words": n_changed,
                 "mode": "delta" if delta_mode else "recount",
                 "wall_sec": time.time() - t0}
            )

    return spark.createDataFrame(rules, MERGE_SCHEMA)


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """Apply a learned merge list: (word, freq, subwords) per distinct
    word — the segmentation table a corpus tokenizer joins against.

    Merges apply in rank order (the BPE invariant); each is the same
    JVM-side fold as training, chained as nested expressions. Suited to
    the small/medium rule lists this engine trains; a production-size
    vocabulary would apply the same fold from a broadcast rule table
    inside an Arrow UDF instead.
    """
    words = word_frequencies(docs, text_col, lowercase)
    sym = _initial_symbols(F.col("word"))
    for left, right in merges:
        sym = _merge_fold(sym, left, right)
    return words.select("word", "freq", sym.alias("subwords"))


# ---------------------------------------------------------------------------
# DuckDB twin — k rounds unrolled as chained CTEs
# ---------------------------------------------------------------------------

def sql_bpe_merges(
    rel: str,
    num_merges: int = 12,
    text_col: str = "text",
    min_count: int = 2,
    lowercase: bool = True,
) -> str:
    """Chained-CTE replay of ``bpe_merges`` (one CTE block per round).

    State per round i: ``s{i}(word, freq, pos, sym)`` — the symbol
    sequences as rows. ``best{i}`` is the argmax pair (gated on
    min_count, so an early-stopped engine run and the unrolled SQL
    agree: once no pair qualifies, every later round passes the state
    through unchanged and emits no merge row). ``keep{i}`` resolves
    overlaps by the run-alternation identity (module doc): odd-ranked
    matches of each maximal consecutive run.

    Every round CTE is ``AS MATERIALIZED``: DuckDB inlines CTEs by
    default, and round i references round i-1 several times — inlining
    would re-execute the whole upstream chain per reference
    (exponential in the round count); materialization keeps the replay
    linear.
    """
    text = f"lower({text_col})" if lowercase else text_col
    toks = sql_tokens(text)
    parts = [
        f"""
wf as materialized (
  select word, count(*)::bigint as freq
  from (select unnest({toks}) as word from {rel})
  group by word
),
s0 as materialized (
  select word, freq, unnest(range(1, len(syms) + 1)) as pos,
         unnest(syms) as sym
  from (
    select word, freq,
           list_append(regexp_extract_all(word, '(?s).'), '{END_OF_WORD}') as syms
    from wf
  )
)"""
    ]
    for i in range(num_merges):
        parts.append(
            f"""
pc{i} as materialized (
  select c.sym as l, n.sym as r, sum(c.freq)::bigint as cnt
  from s{i} c join s{i} n on n.word = c.word and n.pos = c.pos + 1
  group by 1, 2
),
best{i} as materialized (
  select l, r, cnt from pc{i}
  where cnt >= {min_count}
  order by cnt desc, l asc, r asc
  limit 1
),
match{i} as materialized (
  select c.word, c.pos
  from s{i} c
  join s{i} n on n.word = c.word and n.pos = c.pos + 1
  join best{i} b on c.sym = b.l and n.sym = b.r
),
keep{i} as materialized (
  select word, pos from (
    select word, pos,
           row_number() over (partition by word, grp order by pos) as rr
    from (
      select word, pos,
             pos - row_number() over (partition by word order by pos) as grp
      from match{i}
    )
  ) where rr % 2 = 1
),
s{i + 1} as materialized (
  select word, freq,
         row_number() over (partition by word order by pos) as pos, sym
  from (
    select c.word, c.freq, c.pos,
           case when k.pos is not null
                then c.sym || (select r from best{i})
                else c.sym end as sym
    from s{i} c
    left join keep{i} k on k.word = c.word and k.pos = c.pos
    left join keep{i} kprev
           on kprev.word = c.word and kprev.pos = c.pos - 1
    where kprev.pos is null
  )
)"""
        )
    union = "\nunion all\n".join(
        f"select {i} as rank, l as \"left\", r as \"right\", cnt as freq from best{i}"
        for i in range(num_merges)
    )
    return (
        "with " + ",".join(parts) + "\n" + union + "\norder by rank"
    )


def sql_bpe_segment(
    rel: str,
    num_merges: int = 12,
    text_col: str = "text",
    min_count: int = 2,
    lowercase: bool = True,
) -> str:
    """DuckDB twin of train-then-encode (``bpe_merges`` followed by
    ``bpe_encode`` with the learned rules): the identical round-unrolled
    state chain as ``sql_bpe_merges``, but the final select reads the
    LAST round's symbol rows — each word's segmentation after all
    merges — instead of the merge list. Early-stopped rounds pass the
    state through unchanged (empty ``best{i}``), so an engine run that
    found fewer than ``num_merges`` rules still matches. Subwords are
    space-joined, as the engine's ``bpe_segment`` key emits them."""
    inner = sql_bpe_merges(rel, num_merges, text_col, min_count, lowercase)
    # the shared state chain is everything before the merge-list union
    head = inner[: inner.index("\nselect 0 as rank")]
    return (
        head
        + f"""
select word, freq, string_agg(sym, ' ' order by pos) as subwords
from s{num_merges}
group by word, freq"""
    )


def sql_bpe_fertility(
    rel: str,
    num_merges: int = 12,
    text_col: str = "text",
    min_count: int = 2,
    lowercase: bool = True,
) -> str:
    """DuckDB twin of the tokenizer-evaluation aggregate over the same
    train-then-encode state chain as ``sql_bpe_segment``: occurrence-
    weighted fertility and characters per emitted token."""
    inner = sql_bpe_merges(rel, num_merges, text_col, min_count, lowercase)
    head = inner[: inner.index("\nselect 0 as rank")]
    return (
        head
        + f"""
select count(*)::bigint as n_words,
       sum(freq * ntok)::bigint as n_tokens,
       round(sum(freq * ntok)::double / sum(freq), 6) as fertility,
       round(sum(freq * nchar)::double / sum(freq * ntok), 6)
           as chars_per_token
from (
  select word, freq, count(*)::bigint as ntok,
         length(word)::bigint as nchar
  from s{num_merges}
  group by word, freq
)"""
    )

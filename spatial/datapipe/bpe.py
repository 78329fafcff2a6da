"""From-scratch byte-pair-encoding tokenizer -- TRAIN + ENCODE, exact and
SQL-replayable: the canonical LLM training-data operator (Sennrich et al.
2016; the GPT-2/Llama tokenizer family) expressed Spark-first.

Design (and why it is exact):

* Training runs on the WORD-FREQUENCY TABLE, not the corpus -- the
  standard practice (every published BPE trainer aggregates words first):
  the corpus is exploded once into lower-cased ``[a-z]+`` words (the
  textstats word discipline), grouped to ``(word, count)``.  Everything
  after that is vocabulary-sized, NOT corpus-sized -- the whole reason
  BPE training is feasible at 100 TB.

* A word is carried as a SYMBOL STRING: every character wrapped in
  angle brackets (``banana`` -> ``<b><a><n><a><n><a>``).  Brackets
  cannot appear inside a symbol (alphabet is [a-z]), so

  - the adjacent-pair list is ``split(replace(sym, '><', '> <'), ' ')``
    zipped with itself shifted by one -- pure string ops both engines
    share, no regex lookaround (DuckDB's RE2 has none);
  - applying merge (x, y) is ``replace(sym, '<x><y>', '<xy>')`` --
    and ``replace``'s non-overlapping left-to-right semantics (Spark,
    DuckDB, and Python ``str.replace`` all) is EXACTLY BPE's greedy
    left-to-right merge scan: on ``<a><a><a>`` with merge (a, a) all
    three produce ``<aa><a>``.  One shared primitive, three engines.

* Each round picks the max-weight pair under the total order
  (weight DESC, pair ASC) -- ASCII-binary comparison in both engines over
  the [a-z<>] alphabet, so ties break identically -- then rewrites the
  word table with one ``replace``.  All weights are COUNT/SUM of BIGINTs
  (CAST in the oracle: the HUGEINT lesson).

* ENCODE applies the learned merges in rank order to the word table and
  joins token counts back to the document explosion -- the per-doc token
  count every shard packer / context-length filter upstream needs.

100 TB shape: the corpus is touched exactly twice (one explode+count at
train time, one explode+join at encode time); the training loop itself
iterates over the vocabulary summary (checkpointed per round with
``iterate.checkpoint``) and moves ONE row per round to the driver (the
argmax merge; the bounded-scalar-action precedent of kmeans centroids).
The encode join broadcasts the vocabulary when it fits, else shuffles on
the word key -- either way documents never fan out beyond their own
words.

Oracle: the SAME rounds as chained DuckDB CTEs, the per-round merge
applied via SCALAR SUBQUERIES into ``replace`` -- a dataflow with no
driver loop at all.  Two different executions, provably the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..iterate import checkpoint

BPE_MERGES = 6          # learned merge rounds (oracle chain stays readable)


# ---------------------------------------------------------------------------
# shared primitives
# ---------------------------------------------------------------------------

def _word_expr(text_col):
    """Lower-cased [a-z]+ words of a text column (the textstats split)."""
    return F.filter(F.split(F.lower(text_col), r"[^a-z]+"),
                    lambda w: w != "")


def _symbolize(word_col):
    """Wrap every character in angle brackets: 'ab' -> '<a><b>'."""
    return F.regexp_replace(word_col, "(.)", "<$1>")


def _pairs_expr(sym_col):
    """Adjacent symbol pairs of a symbol string, as concatenated strings
    ('<a><b>' for the pair (a, b)); empty array for 1-symbol words."""
    syms = F.split(F.replace(sym_col, F.lit("><"), F.lit("> <")), " ")
    n = F.size(syms)
    idx = F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1)))
    return F.when(
        n >= 2,
        F.transform(idx, lambda i: F.concat(F.element_at(syms, i),
                                            F.element_at(syms, i + 1)))
    ).otherwise(F.array().cast("array<string>"))


def _token_count_expr(sym_col):
    """Number of symbols in a symbol string = number of '<' marks."""
    return (F.length(sym_col)
            - F.length(F.replace(sym_col, F.lit("<"), F.lit("")))
            ).cast("bigint")


def word_freq(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, c, sym): the word-frequency table with char-symbolized
    spelling -- the training input.  One corpus explode + one combinable
    count; vocabulary-sized from here on."""
    return (
        docs.select(F.explode(_word_expr(F.col(text_col))).alias("word"))
        .groupBy("word").agg(F.count("*").cast("bigint").alias("c"))
        .withColumn("sym", _symbolize(F.col("word")))
    )


def train_merges(words: DataFrame, n_merges: int = BPE_MERGES
                 ) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges from a (word, c, sym) table.
    Returns [(rank, pair, merged, weight)] in rank order; stops early if
    no pair remains.  Per round: one explode + combinable SUM over the
    vocabulary summary, a 1-row argmax to the driver, one ``replace``
    rewrite; the word table is checkpointed per round (lineage grows by
    one replace per round otherwise).  Each round's rewrite depends on
    the merge the driver picked, so the loop calls ``iterate.checkpoint``
    itself instead of running through ``iterate.fixpoint``."""
    merges: list[tuple[int, str, str, int]] = []
    w = words
    for rank in range(1, int(n_merges) + 1):
        best = (
            w.select(F.explode(_pairs_expr(F.col("sym"))).alias("pair"), "c")
            .groupBy("pair").agg(F.sum("c").cast("bigint").alias("weight"))
            .orderBy(F.col("weight").desc(), F.col("pair").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        pair, weight = best[0]["pair"], best[0]["weight"]
        merged = pair.replace("><", "")
        merges.append((rank, pair, merged, weight))
        w = checkpoint(
            w.withColumn("sym", F.replace(F.col("sym"), F.lit(pair),
                                          F.lit(merged))))
    return merges


def apply_merges(words: DataFrame, merges) -> DataFrame:
    """Encode a (word, ..., sym) table with learned merges (rank order);
    adds ``n_tokens``.  A chain of ``replace`` columns -- pure JVM,
    zero shuffle."""
    sym = F.col("sym")
    for _rank, pair, merged, _w in merges:
        sym = F.replace(sym, F.lit(pair), F.lit(merged))
    return (words.withColumn("sym", sym)
            .withColumn("n_tokens", _token_count_expr(F.col("sym"))))


def encode_docs(docs: DataFrame, merges, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Per-document token statistics under the learned merges:
    (id_col, n_words, n_chars, n_tokens) -- the context-length /
    shard-packing signal.  The vocabulary (distinct words of THESE docs)
    is encoded once and joined back to the doc->word explosion on the
    word key (broadcastable when the vocab is small)."""
    vocab = apply_merges(word_freq(docs, text_col), merges).select(
        "word", "n_tokens")
    exploded = docs.select(
        F.col(id_col),
        F.explode(_word_expr(F.col(text_col))).alias("word"))
    return (
        exploded.join(vocab, "word")
        .groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("n_words"),
             F.sum(F.length("word")).cast("bigint").alias("n_chars"),
             F.sum("n_tokens").cast("bigint").alias("n_tokens"))
    )


# ---------------------------------------------------------------------------
# driver query bodies
# ---------------------------------------------------------------------------

def bpe_merges_docs(spark: SparkSession, sf_dir: str,
                    n_merges: int = BPE_MERGES) -> DataFrame:
    """Driver query body: the learned merge table over ``documents`` --
    (rank, pair, merged, weight)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = train_merges(word_freq(docs), n_merges)
    return spark.createDataFrame(
        merges, "rank bigint, pair string, merged string, weight bigint")


def bpe_tokens_docs(spark: SparkSession, sf_dir: str,
                    n_merges: int = BPE_MERGES) -> DataFrame:
    """Driver query body: per-document token counts under the merges
    learned from the same corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = train_merges(word_freq(docs), n_merges)
    return encode_docs(docs, merges)


# ---------------------------------------------------------------------------
# oracles -- the identical rounds as chained CTEs, merges applied via
# scalar subqueries (no driver loop: a second, independent dataflow)
# ---------------------------------------------------------------------------

_PAIRS_SQL = ("list_transform(generate_series(1, len({s}) - 1), "
              "i -> {s}[i] || {s}[i + 1])")


def _round_ctes(n_merges: int) -> list[str]:
    """CTEs w0, p1, b1, w1, ..., p_k, b_k, w_k over ``__tok`` (word rows)."""
    ctes = [
        """w0 AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS c,
         regexp_replace(word, '(.)', '<\\1>', 'g') AS sym
  FROM __tok GROUP BY word)"""
    ]
    for k in range(1, int(n_merges) + 1):
        syms = f"string_split(replace(sym, '><', '> <'), ' ')"
        pairs = _PAIRS_SQL.format(s="__s")
        ctes.append(f"""p{k} AS (
  SELECT pair, CAST(SUM(c) AS BIGINT) AS weight FROM (
    SELECT UNNEST({pairs}) AS pair, c FROM (
      SELECT {syms} AS __s, c FROM w{k - 1}) __x) __y
  GROUP BY pair)""")
        ctes.append(f"""b{k} AS (
  SELECT {k} AS rank, pair, replace(pair, '><', '') AS merged, weight
  FROM p{k} ORDER BY weight DESC, pair ASC LIMIT 1)""")
        ctes.append(f"""w{k} AS (
  SELECT word, c, replace(sym, (SELECT pair FROM b{k}),
                          (SELECT merged FROM b{k})) AS sym
  FROM w{k - 1})""")
    return ctes


def _tok_cte(docs_sql: str) -> str:
    return f"""__tok AS MATERIALIZED (
  SELECT UNNEST(list_filter(
           string_split_regex(LOWER(text), '[^a-z]+'), w -> w <> '')) AS word
  FROM ({docs_sql}) __d)"""


def bpe_merges_oracle_sql(docs_sql: str = "SELECT doc_id, text "
                          "FROM documents",
                          n_merges: int = BPE_MERGES) -> str:
    """The merge table: UNION ALL of the per-round argmax CTEs."""
    ctes = [_tok_cte(docs_sql)] + _round_ctes(n_merges)
    union = "\nUNION ALL ".join(
        f"SELECT CAST(rank AS BIGINT) AS rank, pair, merged, "
        f"CAST(weight AS BIGINT) AS weight FROM b{k}"
        for k in range(1, int(n_merges) + 1))
    return "WITH " + ",\n".join(ctes) + "\n" + union


def bpe_tokens_oracle_sql(docs_sql: str = "SELECT doc_id, text "
                          "FROM documents",
                          n_merges: int = BPE_MERGES) -> str:
    """Per-doc token counts: the final word table w_k joined back to the
    doc->word explosion; token count = number of '<' marks."""
    ctes = [f"""__docs AS MATERIALIZED (
  SELECT doc_id,
         list_filter(string_split_regex(LOWER(text), '[^a-z]+'),
                     w -> w <> '') AS ws
  FROM ({docs_sql}) __d)""",
            """__tok AS MATERIALIZED (
  SELECT UNNEST(ws) AS word FROM __docs)"""] + _round_ctes(n_merges)
    k = int(n_merges)
    cte_block = ",\n".join(ctes)
    return f"""WITH {cte_block},
__vocab AS (
  SELECT word,
         CAST(LEN(sym) - LEN(replace(sym, '<', '')) AS BIGINT) AS n_tokens
  FROM w{k}),
__ex AS (SELECT doc_id, UNNEST(ws) AS word FROM __docs)
SELECT e.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(LEN(e.word)) AS BIGINT) AS n_chars,
       CAST(SUM(v.n_tokens) AS BIGINT) AS n_tokens
FROM __ex e JOIN __vocab v ON e.word = v.word
GROUP BY e.doc_id"""

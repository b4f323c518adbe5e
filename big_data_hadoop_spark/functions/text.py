"""Token classification expressions (reference parity).

The reference classifies every space-separated token as a *word* or a
*number* with two anchored regexes, discarding everything else
(``HadoopWordCount.java:38-40``; same patterns in the pairs/stripes jobs and
``SparkWordCount.scala:25-26``). The two categories are provably disjoint
(letters vs digits), so classification is a single CASE expression.

All expressions here are native Spark SQL functions — they stay inside
whole-stage codegen; no Python executes per row.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from big_data_hadoop_spark.functions.rank import _quote

#: Full-match pattern for the *word* category: lower-case letters, dash,
#: underscore (``HadoopWordCount.java:39``). Uppercase tokens do NOT match —
#: the Hadoop jobs never lowercase (SURVEY Q1); lowercasing is an explicit
#: tokenizer option.
WORD_PATTERN = "[a-z-_]+"

#: Full-match pattern for the *number* category: optional sign, >=1 digit,
#: at most one dot, optional trailing digits — accepts ``"3."``
#: (``HadoopWordCount.java:40``).
NUMBER_PATTERN = "[-+]?[0-9]+[.]{0,1}[0-9]*"

WORD = "word"
NUMBER = "number"


def category_sql(token_sql: str) -> str:
    """``'word'`` / ``'number'`` / NULL (token discarded) for the SQL
    expression ``token_sql``, as a SQL ``CASE`` (parse it inside a
    lambda: ``t -> ...``); the doubled backslashes are SQL
    string-literal escapes.

    Mirrors the emit loop at ``HadoopWordCount.java:54-61``: a token
    that matches neither pattern produces nothing. Empty tokens (from
    consecutive spaces) never match either pattern but still occupy
    stream positions — load-bearing for pair/stripe adjacency (SURVEY
    Q6).

    Both patterns are anchored ``\\A...\\z``, not ``^...$``: Java's
    ``$`` matches BEFORE a trailing line terminator, so ``"abc\\n"``
    would count as a word in Spark but not in RE2-based engines
    (DuckDB) — a cross-engine divergence found by the hypothesis fuzz.
    The reference can never observe the difference
    (``TextInputFormat`` strips line terminators, so its tokens cannot
    contain ``\\n``), so the strict absolute-end interpretation is
    reference-faithful AND engine-portable.
    """
    return (
        f"CASE WHEN {token_sql} RLIKE '\\\\A{WORD_PATTERN}\\\\z' THEN '{WORD}' "
        f"WHEN {token_sql} RLIKE '\\\\A{NUMBER_PATTERN}\\\\z' THEN '{NUMBER}' END"
    )


def kept_tokens(text_col: str, lowercase: bool = True) -> Column:
    """Kept-token array of the column NAMED ``text_col``: single-space
    split with empties dropped (lowercased by default) — the shared
    token contract of the LLM-pipeline operators (BM25, the bigram LM,
    BPE, the corpus profile), parsed from one SQL string. One
    definition so the engine's token semantics — and their
    cross-engine regex pins — change in exactly one place."""
    text = f"lower({_quote(text_col)})" if lowercase else _quote(text_col)
    return F.expr(f"filter(split({text}, ' ', -1), t -> t != '')")


def split_tokens(text: Column, lowercase: bool = False) -> Column:
    """Raw token array: split on a single literal space.

    ``split(text, ' ', -1)`` keeps interior AND trailing empty strings;
    Java's ``String.split(" ")`` drops trailing empties
    (``HadoopWordCount.java:52``) — harmless, because empty tokens match no
    category and positions are assigned before any filtering (SURVEY Q6).
    ``lowercase`` reproduces ``SparkWordCount.scala:29`` (top-K parity);
    the five Hadoop jobs never lowercase (SURVEY Q1).
    """
    if lowercase:
        text = F.lower(text)
    return F.split(text, " ", -1)

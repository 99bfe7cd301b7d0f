package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's "bolt" operators (SURVEY.md §2.2-2.4), re-expressed as
  * composable DataFrame transforms.
  *
  * Reference semantics being reproduced:
  *  - wordCount.transform (reference `server/wordCount.go:75-84`): whitespace
  *    split, one (word, 1) per token — here `explode(split(...))` + grouped
  *    count. Empty tokens are dropped, mirroring the explicit empty-string
  *    filter in the reference's own Spark baseline
  *    (`spark-streaming/src/word-count.py:43-44`; Go `strings.Fields` trims).
  *  - twitter.transform (`server/twitter.go:59-67`): project token #2.
  *  - hothttp.transform (`server/hothttp.go:59-73`): contains-filter + min
  *    field count + project token by index.
  *  - grep (`server/querier.go:15-56`): regex filter + per-file count.
  *  - writeToSDFS top-K (`server/wordCount.go:99-137`): sort desc + limit K.
  *    The reference tie-breaks nondeterministically; we impose a total order
  *    (count desc, key asc) so results are reproducible and oracle-checkable.
  *
  * All of these stay inside whole-stage codegen (built-in functions only) and
  * aggregate with map-side partial aggregation, so a 1000-executor run
  * shuffles only (key, partial-count) pairs, never raw tokens.
  */
object TextOps {

  /** Whitespace tokenization matching Go's strings.Fields — the single
    * definition lives in TextFunctions so batch, streaming, and
    * text-analysis tokenization cannot drift apart. */
  def tokens(text: Column): Column = graft.functions.TextFunctions.tokens(text)

  /** T1: one `word` row per token of `textCol`. */
  def words(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(col(textCol))).as("word"))

  /** T1+A1/A2: tokenize `textCol`, count per word. */
  def wordCount(df: DataFrame, textCol: String): DataFrame =
    words(df, textCol)
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** O1: deterministic global top-K (TakeOrderedAndProject — no full sort,
    * each partition keeps K rows, driver merges K*numPartitions rows). */
  def topK(df: DataFrame, k: Int, byDesc: String, tieAsc: String): DataFrame =
    df.orderBy(col(byDesc).desc, col(tieAsc).asc).limit(k)

  /** T1+A1+O1 composed: the flagship reference app, batch form. */
  def wordCountTopK(df: DataFrame, textCol: String, k: Int): DataFrame =
    topK(wordCount(df, textCol), k, "cnt", "word")

  /** T2: project the Nth whitespace token (1-based), keeping only rows with
    * exactly `arity` tokens (twitter app: arity=2, n=2). */
  def projectToken(df: DataFrame, textCol: String, n: Int, arity: Int): DataFrame =
    df.select(tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) === arity)
      .select(element_at(col("toks"), n).as("token"))

  /** T3: hothttp-style contains-filter + min-arity + project token n. */
  def filterProjectToken(df: DataFrame, textCol: String, needle: String,
                         minArity: Int, n: Int): DataFrame =
    df.filter(col(textCol).contains(needle))
      .select(tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= minArity)
      .select(element_at(col("toks"), n).as("token"))

  /** T4: grep — regex filter with provenance columns passed through. */
  def grep(df: DataFrame, textCol: String, pattern: String): DataFrame =
    df.filter(col(textCol).rlike(pattern))

  /** A3: grep count per group (per-VM count in the reference; per-`source`
    * here). */
  def grepCount(df: DataFrame, textCol: String, pattern: String,
                groupCol: String): DataFrame =
    grep(df, textCol, pattern)
      .groupBy(groupCol)
      .agg(count(lit(1)).as("cnt"))
}

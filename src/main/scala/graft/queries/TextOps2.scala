package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.functions.TextFns

/** Second text-analysis batch: BPE-ish regex tokenization, winnowing
  * fingerprints (rolling min-hash over shingle windows), and the
  * composite quality filter a training-data pipeline gates on.
  */
object TextOps2 {

  val all: Seq[Query] = Seq(

    // word/punctuation tokenizer (the BPE-ish regex split) vs whitespace
    q("q_token_bpe")((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select(
          $"doc_id",
          size(regexp_extract_all($"text", lit("\\w+|[^\\w\\s]"), lit(0))).as("n_bpe_tokens"),
          TextFns.tokenCount($"text").as("n_ws_tokens"))
        .orderBy($"doc_id")
    },
      """SELECT doc_id, len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpe_tokens,
        |len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    // winnowing: min shingle-hash of every 8-position window, distinct —
    // the rolling-hash document fingerprint set. Map-only: the rolling
    // minima live inside one doc's own hash array (native SlidingMin),
    // so no posexplode + per-doc window shuffle; per-doc distinct is
    // array_distinct before the explode.
    q("q_winnow")((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id", TextFns.tokens($"text").as("tk"))
        .select($"doc_id", explode(array_distinct(
          TextFns.slidingMin(TextFns.shingleHashes48($"tk", 3), 8))).as("fingerprint"))
        .orderBy($"doc_id", $"fingerprint")
    },
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
        |sh AS (SELECT doc_id,
        |  unnest(list_transform(generate_series(1, len(tk) - 2),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s,
        |  generate_subscripts(list_transform(generate_series(1, len(tk) - 2), i -> i), 1) AS pos
        |  FROM toks WHERE len(tk) >= 3),
        |h AS (SELECT doc_id, pos, CAST(concat('0x', substr(md5(s), 1, 12)) AS BIGINT) AS hv FROM sh),
        |wm AS (SELECT doc_id, MIN(hv) OVER (
        |  PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fingerprint
        |  FROM h)
        |SELECT DISTINCT doc_id, fingerprint FROM wm ORDER BY doc_id, fingerprint""".stripMargin),

    // composite quality gate: enough tokens, bounded mean word length,
    // at least one stopword — the keep/drop decision per document
    q("q_quality_filter")((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id", $"lang", $"n_chars",
          TextFns.tokenCount($"text").as("n_tokens"),
          TextFns.stopwordCount($"text").as("n_stop"))
        .withColumn("mean_token_len", $"n_chars".cast("double") / $"n_tokens")
        .withColumn("keep",
          $"n_tokens" >= 20 && $"n_stop" >= 1 &&
            $"mean_token_len" >= 3.0 && $"mean_token_len" <= 12.0)
        .orderBy($"doc_id")
    },
      """SELECT doc_id, lang, n_chars,
        |len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |  x -> x IN ('the','a','of','and','to','in'))) AS n_stop,
        |CAST(n_chars AS DOUBLE) / len(string_split_regex(trim(text), '\s+')) AS mean_token_len,
        |(len(string_split_regex(trim(text), '\s+')) >= 20
        |  AND len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    x -> x IN ('the','a','of','and','to','in'))) >= 1
        |  AND CAST(n_chars AS DOUBLE) / len(string_split_regex(trim(text), '\s+')) >= 3.0
        |  AND CAST(n_chars AS DOUBLE) / len(string_split_regex(trim(text), '\s+')) <= 12.0) AS keep
        |FROM documents ORDER BY doc_id""".stripMargin)
  )
}

package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.functions.TextFns

/** Fourth text batch: eval-set decontamination and deterministic
  * sampling — the last-mile curation steps before a training run.
  *
  * The synthetic corpus has almost no natural 8-gram overlap, so the
  * decontamination query plants eval-doc prefixes into chosen training
  * docs on BOTH sides (the q_scrub_pii pattern): the oracle checks the
  * overlap machinery, not the fixture.
  */
object TextOps4 {

  val all: Seq[Query] = Seq(

    // Benchmark decontamination: flag training docs sharing any 8-gram
    // with the eval set (doc_id % 50 = 0). Eval docs are a fixed tiny
    // set next to a 100 TB corpus, so their distinct shingle hashes
    // broadcast and the scan stays map-side: explode → broadcast
    // semi-ish join on the 48-bit hash → per-doc count. Contamination
    // planted: docs with doc_id % 7 = 0 get the 8-token prefix of eval
    // doc ((doc_id % 10) + 1) * 50 appended.
    q("q_decontaminate")(
      (s, d) => {
        import s.implicits._
        val base = t(s, d, "documents").select($"doc_id", $"text")
        val evalPrefix = base.filter($"doc_id" % 50 === 0)
          .select(($"doc_id" / 50).cast("long").as("k"),
            concat_ws(" ", slice(TextFns.tokens($"text"), 1, 8)).as("prefix"))
        val corpus = base
          .join(broadcast(evalPrefix), ($"doc_id" % 10) + 1 === $"k", "left")
          .select($"doc_id",
            when($"doc_id" % 7 === 0 && $"doc_id" % 50 =!= 0,
              concat($"text", lit(" "), $"prefix")).otherwise($"text").as("text"))
        val hashes = corpus.select($"doc_id",
          explode(array_distinct(TextFns.shingleHashes48(TextFns.tokens($"text"), 8))).as("hv"))
        val evalH = hashes.filter($"doc_id" % 50 === 0).select($"hv").distinct()
        hashes.filter($"doc_id" % 50 =!= 0)
          .join(broadcast(evalH), "hv")
          .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
          .orderBy($"doc_id")
      },
      """WITH base AS (SELECT doc_id, text FROM documents),
        |evalp AS (SELECT doc_id // 50 AS k,
        |  array_to_string((string_split_regex(trim(text), '\s+'))[1:8], ' ') AS prefix
        |  FROM base WHERE doc_id % 50 = 0),
        |corpus AS (SELECT b.doc_id,
        |  CASE WHEN b.doc_id % 7 = 0 AND b.doc_id % 50 <> 0
        |       THEN b.text || ' ' || e.prefix ELSE b.text END AS text
        |  FROM base b LEFT JOIN evalp e ON e.k = (b.doc_id % 10) + 1),
        |toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM corpus),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  generate_series(1, len(tk) - 7),
        |  i -> tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||
        |       tk[i+4]||' '||tk[i+5]||' '||tk[i+6]||' '||tk[i+7]))) AS s
        |  FROM toks WHERE len(tk) >= 8),
        |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(s), 1, 12)) AS BIGINT) AS hv FROM sh),
        |eval_h AS (SELECT DISTINCT hv FROM h WHERE doc_id % 50 = 0)
        |SELECT h.doc_id, COUNT(*) AS n_shared
        |FROM h JOIN eval_h USING (hv) WHERE h.doc_id % 50 <> 0
        |GROUP BY h.doc_id ORDER BY doc_id""".stripMargin),

    // Repeated-span masking — exact-substring dedup detection (the
    // "dedup repeated ≥k-token spans" step of Lee et al. 2022,
    // "Deduplicating Training Data Makes Language Models Better"):
    // flag every 8-gram occurring verbatim in ≥2 distinct docs, and
    // per doc report how many gram positions and how many tokens those
    // shared spans cover — the mask a span-dropping rewrite would use.
    // Scale shape: postings explode (work ∝ corpus tokens) → one df
    // aggregation shuffle → join back on the 48-bit hash (work ∝
    // repeated occurrences only) — the inverted-index form, never n².
    // Planted overlap: docs with doc_id % 9 = 0 share doc 100's
    // 12-token prefix (5 overlapping 8-grams each).
    q("q_span_mask")(
      (s, d) => {
        import s.implicits._
        val base = t(s, d, "documents").select($"doc_id", $"text")
        val span = base.filter($"doc_id" === 100)
          .select(concat_ws(" ", slice(TextFns.tokens($"text"), 1, 12)).as("span"))
        val corpus = base.crossJoin(broadcast(span))
          .select($"doc_id",
            when($"doc_id" % 9 === 0, concat($"text", lit(" "), $"span"))
              .otherwise($"text").as("text"))
        val docs = corpus.select($"doc_id", TextFns.tokens($"text").as("tk"))
          .withColumn("n_tokens", size($"tk")).filter($"n_tokens" >= 8)
        // the postings frame (∝ corpus tokens) feeds three consumers —
        // pin it so tokenize+shingle+posexplode runs once, not 3×; the
        // joined repeated-occurrence frame (small) feeds two more
        val grams = graft.util.CacheScope.pin(docs
          .select($"doc_id", posexplode(TextFns.shingleHashes48($"tk", 8)))
          .toDF("doc_id", "pos", "hv"))
        val repeated = grams.select($"hv", $"doc_id").distinct()
          .groupBy($"hv").agg(count(lit(1)).as("df"))
          .filter($"df" >= 2).select($"hv")
        val rep = graft.util.CacheScope.pin(grams.join(repeated, "hv"))
        val nrep = rep.groupBy($"doc_id").agg(count(lit(1)).as("n_rep_grams"))
        val cov = rep
          .select($"doc_id", explode(sequence($"pos", $"pos" + 7)).as("j"))
          .groupBy($"doc_id").agg(countDistinct($"j").as("n_covered_tokens"))
        docs.select($"doc_id", $"n_tokens")
          .join(nrep, Seq("doc_id"), "left")
          .join(cov, Seq("doc_id"), "left")
          .select($"doc_id", $"n_tokens",
            coalesce($"n_rep_grams", lit(0L)).as("n_rep_grams"),
            coalesce($"n_covered_tokens", lit(0L)).as("n_covered_tokens"))
          .orderBy($"doc_id")
      },
      """WITH base AS (SELECT doc_id, text FROM documents),
        |sp AS (SELECT array_to_string((string_split_regex(trim(text), '\s+'))[1:12], ' ') AS span
        |  FROM base WHERE doc_id = 100),
        |corpus AS (SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0 THEN text || ' ' || span ELSE text END AS text
        |  FROM base, sp),
        |tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM corpus),
        |g AS (SELECT doc_id,
        |  unnest(generate_series(1, len(t) - 7)) AS i,
        |  unnest(list_transform(generate_series(1, len(t) - 7),
        |    i -> CAST(concat('0x', substr(md5(
        |      t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||
        |      t[i+4]||' '||t[i+5]||' '||t[i+6]||' '||t[i+7]), 1, 12)) AS BIGINT))) AS hv
        |  FROM tk WHERE len(t) >= 8),
        |rep AS (SELECT hv FROM (SELECT hv, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY hv)
        |  WHERE df >= 2),
        |gr AS (SELECT doc_id, i FROM g JOIN rep USING (hv)),
        |nrep AS (SELECT doc_id, COUNT(*) AS n_rep_grams FROM gr GROUP BY doc_id),
        |cov AS (SELECT doc_id, COUNT(DISTINCT j) AS n_covered_tokens FROM
        |  (SELECT doc_id, unnest(generate_series(i, i + 7)) AS j FROM gr) GROUP BY doc_id),
        |nt AS (SELECT doc_id, len(t) AS n_tokens FROM tk WHERE len(t) >= 8)
        |SELECT nt.doc_id, CAST(nt.n_tokens AS INT) AS n_tokens,
        |  CAST(coalesce(nrep.n_rep_grams, 0) AS BIGINT) AS n_rep_grams,
        |  CAST(coalesce(cov.n_covered_tokens, 0) AS BIGINT) AS n_covered_tokens
        |FROM nt LEFT JOIN nrep USING (doc_id) LEFT JOIN cov USING (doc_id)
        |ORDER BY nt.doc_id""".stripMargin),

    // Pack materialization — the step after q_seq_pack's assignment:
    // concatenate each pack's docs in order into one training row.
    // groupBy(pack) + ordered collect is safe HERE because a pack is
    // budget-bounded (~2048 tokens) — never an unbounded group.
    q("q_pack_build")(
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"source").orderBy($"doc_id")
        t(s, d, "documents")
          .select($"doc_id", $"source", $"text",
            TextFns.tokenCount($"text").cast("long").as("n_tokens"))
          .withColumn("start_off", sum($"n_tokens").over(w) - $"n_tokens")
          .withColumn("pack_id", floor($"start_off" / 2048).cast("long"))
          .groupBy($"source", $"pack_id")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_tokens").as("pack_tokens"),
            concat_ws(" ", transform(array_sort(collect_list(struct($"doc_id", $"text"))),
              x => x.getField("text"))).as("pack_text"))
          .select($"source", $"pack_id", $"n_docs", $"pack_tokens",
            length($"pack_text").as("pack_chars"))
          .orderBy($"source", $"pack_id")
      },
      """WITH packed AS (SELECT doc_id, source, text, n_tokens,
        |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id
        |  FROM (SELECT doc_id, source, text,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    SUM(len(string_split_regex(trim(text), '\s+')))
        |      OVER (PARTITION BY source ORDER BY doc_id) AS cum
        |    FROM documents))
        |SELECT source, pack_id, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
        |  length(string_agg(text, ' ' ORDER BY doc_id)) AS pack_chars
        |FROM packed GROUP BY source, pack_id ORDER BY source, pack_id""".stripMargin),

    // Packing-efficiency audit — the bin-utilization report next to
    // q_pack_build: per source, how many 2048-token packs the greedy
    // offset chunking produced, total vs capacity tokens (utilization
    // forms from the exact integers), and how many packs run OVERFULL
    // (a doc straddling the boundary inflates its pack past capacity —
    // the packs a trainer must truncate or re-split). Same windowed
    // cumsum grain as the builder; output is |sources| rows.
    q("q_pack_efficiency")(
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"source").orderBy($"doc_id")
        t(s, d, "documents")
          .select($"doc_id", $"source",
            TextFns.tokenCount($"text").cast("long").as("n_tokens"))
          .withColumn("start_off", sum($"n_tokens").over(w) - $"n_tokens")
          .withColumn("pack_id", floor($"start_off" / 2048).cast("long"))
          .groupBy($"source", $"pack_id")
          .agg(sum($"n_tokens").as("pack_tokens"))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_packs"),
            sum($"pack_tokens").as("total_tokens"),
            (count(lit(1)) * 2048).as("capacity_tokens"),
            sum(($"pack_tokens" > 2048).cast("long")).as("n_overfull"),
            max($"pack_tokens").as("max_pack_tokens"),
            min($"pack_tokens").as("min_pack_tokens"))
          .orderBy($"source")
      },
      """WITH packed AS (SELECT source,
        |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
        |  n_tokens
        |  FROM (SELECT source,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    SUM(len(string_split_regex(trim(text), '\s+')))
        |      OVER (PARTITION BY source ORDER BY doc_id) AS cum
        |    FROM documents)),
        |pk AS (SELECT source, pack_id, CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
        |  FROM packed GROUP BY 1, 2)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_packs,
        |  CAST(SUM(pack_tokens) AS BIGINT) AS total_tokens,
        |  CAST(COUNT(*) * 2048 AS BIGINT) AS capacity_tokens,
        |  CAST(SUM(CASE WHEN pack_tokens > 2048 THEN 1 ELSE 0 END) AS BIGINT) AS n_overfull,
        |  MAX(pack_tokens) AS max_pack_tokens,
        |  MIN(pack_tokens) AS min_pack_tokens
        |FROM pk GROUP BY 1 ORDER BY 1""".stripMargin),

    // Cross-source contamination matrix: for every source pair, the
    // number of distinct shared 8-grams — the dataset-vs-dataset
    // overlap audit. Distinct (source, hash) rows self-join on the
    // hash: work ∝ collisions, output |sources|².
    q("q_source_overlap")(
      (s, d) => {
        import s.implicits._
        val sh = t(s, d, "documents")
          .select($"source", explode(array_distinct(
            TextFns.shingleHashes48(TextFns.tokens($"text"), 8))).as("hv"))
          .distinct()
        sh.as("a").join(sh.as("b"),
            col("a.hv") === col("b.hv") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
          .agg(count(lit(1)).as("shared_ngrams"))
          .orderBy($"source_a", $"source_b")
      },
      """WITH sh AS (SELECT DISTINCT source,
        |  CAST(concat('0x', substr(md5(s), 1, 12)) AS BIGINT) AS hv
        |  FROM (SELECT source, unnest(list_distinct(list_transform(
        |    generate_series(1, len(tk) - 7),
        |    i -> tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||
        |         tk[i+4]||' '||tk[i+5]||' '||tk[i+6]||' '||tk[i+7]))) AS s
        |    FROM (SELECT source, string_split_regex(trim(text), '\s+') AS tk
        |          FROM documents) WHERE len(tk) >= 8))
        |SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS shared_ngrams
        |FROM sh a JOIN sh b ON a.hv = b.hv AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin),

    // Distinctive terms per doc: TF-IDF-shaped ranking kept fully
    // integer ((tf DESC, df ASC, term)) so no float log can drift
    // between engines. Explode → two partial-agg shuffles (term df,
    // per-doc tf) → per-doc top-3 window.
    q("q_rare_terms")(
      (s, d) => {
        import s.implicits._
        val tok = t(s, d, "documents")
          .select($"doc_id", explode(TextFns.tokens($"text")).as("term"))
        val df_ = tok.select($"doc_id", $"term").distinct()
          .groupBy($"term").agg(count(lit(1)).as("df"))
        val tf = tok.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
        val w = Window.partitionBy($"doc_id").orderBy($"tf".desc, $"df".asc, $"term")
        tf.join(df_, "term")
          .withColumn("rn", row_number().over(w)).filter($"rn" <= 3)
          .select($"doc_id", $"term", $"tf", $"df", $"rn")
          .orderBy($"doc_id", $"rn")
      },
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |df AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM tok)
        |  GROUP BY term),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
        |r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |  row_number() OVER (PARTITION BY tf.doc_id
        |    ORDER BY tf.tf DESC, df.df ASC, tf.term) AS rn
        |  FROM tf JOIN df USING (term))
        |SELECT doc_id, term, tf, df, rn FROM r WHERE rn <= 3
        |ORDER BY doc_id, rn""".stripMargin),

    // Dataset mixing: per-source acceptance rates (the pretraining
    // mixture step — up/down-weight sources to hit target proportions)
    // applied with the same deterministic md5-bucket bernoulli as
    // q_hash_sample. Map-only; the mixture is reproducible on any
    // engine, any partitioning, any rerun.
    q("q_mix_sample")(
      (s, d) => {
        import s.implicits._
        val srcNum = substring($"source", 4, 10).cast("int")
        val rate = when(srcNum % 3 === 0, 80)
          .when(srcNum % 3 === 1, 50)
          .otherwise(20)
        t(s, d, "documents")
          .select($"doc_id", $"source",
            (TextFns.hash48($"doc_id".cast("string")) % 100).as("bucket"),
            rate.as("rate"))
          .filter($"bucket" < $"rate")
          .orderBy($"doc_id")
      },
      """SELECT doc_id, source, bucket, rate FROM (
        |  SELECT doc_id, source,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) % 100 AS bucket,
        |    CASE CAST(substr(source, 4) AS INTEGER) % 3
        |      WHEN 0 THEN 80 WHEN 1 THEN 50 ELSE 20 END AS rate
        |  FROM documents)
        |WHERE bucket < rate ORDER BY doc_id""".stripMargin),

    // Deterministic hash sampling — reproducible 20% bernoulli by
    // md5-derived bucket of the key: the same sample comes back on
    // every rerun and every engine, with no RNG state to coordinate
    // across 1000 executors. Map-only.
    q("q_hash_sample")(
      (s, d) => {
        import s.implicits._
        t(s, d, "documents")
          .select($"doc_id", $"source",
            (TextFns.hash48($"doc_id".cast("string")) % 100).as("bucket"))
          .filter($"bucket" < 20)
          .orderBy($"doc_id")
      },
      """SELECT doc_id, source,
        |CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) % 100 AS bucket
        |FROM documents
        |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) % 100 < 20
        |ORDER BY doc_id""".stripMargin),

    // Stratified train/val/test split — 80/10/10 WITHIN each source
    // stratum: the hash is salted with the source, so each stratum is
    // split independently (an unsalted hash would give every stratum
    // the same doc_id→side mapping, correlating splits across sources
    // that share id ranges). Deterministic and map-only: reproducible
    // on any engine, partitioning, or rerun — no RNG state across
    // 1000 executors, and a regenerated corpus re-splits identically
    // for unchanged (source, doc_id) pairs.
    q("q_stratified_split")(
      (s, d) => {
        import s.implicits._
        val b = TextFns.hash48(concat($"source", lit(":"), $"doc_id".cast("string"))) % 100
        t(s, d, "documents")
          .select($"doc_id", $"source", b.as("bucket"),
            when(b < 80, "train").when(b < 90, "val").otherwise("test").as("split"))
          .orderBy($"doc_id")
      },
      """SELECT doc_id, source, bucket,
        |CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, source,
        |  CAST(concat('0x', substr(md5(concat(source, ':', CAST(doc_id AS VARCHAR))), 1, 12)) AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin),

    // Deterministic corpus export, end-to-end through the REAL writer
    // (graft.export.CorpusExport — the q_merge_sql pattern): the
    // documents are exported to 8 round-robin shard files ordered by
    // (n_tokens desc, doc_id), then the PUBLISHED files are read back
    // and their provenance columns compared against the closed form —
    // shard = (rank-1) % 8, pos = (rank-1)//8 + 1 over the global
    // row_number. Pins that the on-disk artifact (not just a plan)
    // carries the pinned order; the byte-determinism half of the
    // contract is CorpusExportSpec's.
    q("q_corpus_export")(
      (s, d) => {
        import s.implicits._
        val dir = java.nio.file.Files.createTempDirectory("graft_corpus_export")
        try {
          val docs = t(s, d, "documents").select($"doc_id",
            TextFns.tokenCount($"text").cast("long").as("n_tokens"))
          graft.export.CorpusExport.write(docs, dir.toString, 8,
            Seq($"n_tokens".desc, $"doc_id"))
          graft.export.CorpusExport.read(s, dir.toString)
            .select($"doc_id", $"n_tokens", $"shard", $"pos")
            .orderBy($"doc_id")
            .localCheckpoint()
        } finally graft.util.Fs.deleteRecursively(dir)
      },
      """WITH ranked AS (SELECT doc_id, n_tokens,
        |  row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rn
        |  FROM (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |    FROM documents))
        |SELECT doc_id, n_tokens,
        |  CAST((rn - 1) % 8 AS BIGINT) AS shard,
        |  CAST((rn - 1) // 8 + 1 AS BIGINT) AS pos
        |FROM ranked ORDER BY doc_id""".stripMargin)
  )
}

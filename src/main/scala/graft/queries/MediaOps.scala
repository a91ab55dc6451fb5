package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.functions.TextFns
import graft.multimodal.{AudioPhash, CrossModal, ImagePhash, Multimodal}

/** Multimodal-plumbing queries. The codec's fallback values for the
  * text-derived fixture corpus are sha256-derived, so `q_media_meta`
  * and `q_frame_sample` ARE oracle-checkable: the DuckDB SQL mirrors
  * the digest arithmetic exactly (real decodable payloads are covered
  * by `MultimodalScrapeSpec` instead — no SQL engine decodes PNG).
  */
object MediaOps {

  /** DuckDB twin of the ImagePhash fixture + hash: block values from
    * [[graft.multimodal.ImagePhash.patternValue]]'s formula, hash bits
    * by the same integer cross-multiplication. */
  private val phashSql =
    """imgs AS (
      |  SELECT doc_id AS media_id, doc_id AS src, 0 AS variant
      |    FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL SELECT doc_id + 900000, doc_id, 1
      |    FROM documents WHERE doc_id % 30 = 0
      |  UNION ALL SELECT doc_id + 800000, doc_id, 2
      |    FROM documents WHERE doc_id % 21 = 0),
      |bv AS (SELECT media_id, src, variant, unnest(generate_series(0, 47)) AS b
      |  FROM imgs),
      |v AS (SELECT media_id, variant, b,
      |  CASE WHEN variant = 2 AND b = 0 THEN ((src + 1) * (47 + 17)) % 251
      |       WHEN variant = 2 AND b = 47 THEN ((src + 1) * (0 + 17)) % 251
      |       ELSE ((src + 1) * (b + 17)) % 251 END AS v
      |  FROM bv),
      |tot AS (SELECT media_id, CAST(SUM(v) AS BIGINT) AS total FROM v GROUP BY 1),
      |ph AS MATERIALIZED (SELECT v.media_id,
      |  CAST(MIN(CASE WHEN variant = 1 THEN 128 ELSE 64 END) AS INT) AS width,
      |  CAST(MIN(CASE WHEN variant = 1 THEN 96 ELSE 48 END) AS INT) AS height,
      |  CAST(SUM(CASE WHEN v.v * 48 > tot.total
      |    THEN (CAST(1 AS BIGINT) << v.b) ELSE 0 END) AS BIGINT) AS phash
      |  FROM v JOIN tot USING (media_id) GROUP BY 1)""".stripMargin

  /** DuckDB twin of the AudioPhash fixture + hash: the ×60 amplitude
    * scale and the ×2 volume plant both cancel in the energy ratios,
    * so bits depend only on the pattern values' squares. */
  private val ahashSql =
    """auds AS (
      |  SELECT doc_id AS media_id, doc_id AS src, 0 AS variant
      |    FROM documents WHERE doc_id % 3 = 1
      |  UNION ALL SELECT doc_id + 950000, doc_id, 1
      |    FROM documents WHERE doc_id % 30 = 1
      |  UNION ALL SELECT doc_id + 850000, doc_id, 2
      |    FROM documents WHERE doc_id % 21 = 1),
      |abv AS (SELECT media_id, src, variant, unnest(generate_series(0, 47)) AS b
      |  FROM auds),
      |av AS (SELECT media_id, b,
      |  CASE WHEN variant = 2 AND b = 0 THEN ((src + 1) * (47 + 23)) % 251
      |       WHEN variant = 2 AND b = 47 THEN ((src + 1) * (0 + 23)) % 251
      |       ELSE ((src + 1) * (b + 23)) % 251 END AS v
      |  FROM abv),
      |atot AS (SELECT media_id, CAST(SUM(v * v) AS BIGINT) AS total FROM av GROUP BY 1),
      |aph AS MATERIALIZED (SELECT av.media_id,
      |  CAST(3072 AS BIGINT) AS n_samples,
      |  CAST(SUM(CASE WHEN av.v * av.v * 48 > atot.total
      |    THEN (CAST(1 AS BIGINT) << av.b) ELSE 0 END) AS BIGINT) AS ahash
      |  FROM av JOIN atot USING (media_id) GROUP BY 1)""".stripMargin

  private def featSql(i: Int): String =
    s"round(CAST(concat('0x', substr(md5(text || '#$i'), 1, 8)) AS BIGINT) / 4294967296.0, 6) AS f$i"

  val all: Seq[Query] = Seq(

    // column-expression feature extraction (portable hash → unit floats)
    q("q_media_features")((s, d) => {
      import s.implicits._
      val feats = (0 until 4).map(i =>
        round(TextFns.hash32(concat($"text", lit(s"#$i"))) / 4294967296.0, 6).as(s"f$i"))
      t(s, d, "documents")
        .select(($"doc_id" +: feats): _*)
        .orderBy($"doc_id")
    },
      s"""SELECT doc_id, ${(0 until 4).map(featSql).mkString(", ")}
         |FROM documents ORDER BY doc_id""".stripMargin),

    // binary payload → decoded metadata via the partition-parallel stub codec
    // mirrors MediaCodec.stubDecode: a/b = first/second byte of the
    // payload's sha256 (the fixture payload is the text's UTF-8 bytes)
    q("q_media_meta")((s, d) => {
      Multimodal.extractMeta(Multimodal.mediaFromDocuments(s, d))
        .toDF().orderBy(col("media_id"))
    },
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    octet_length(encode(text)) AS n_bytes,
        |    sha256(text) AS dg
        |  FROM documents),
        |ab AS (SELECT *,
        |    CAST(concat('0x', substr(dg, 1, 2)) AS INT) AS a,
        |    CAST(concat('0x', substr(dg, 3, 2)) AS INT) AS b FROM m)
        |SELECT media_id, kind, n_bytes,
        |  CASE kind WHEN 'image' THEN 'png-stub' WHEN 'audio' THEN 'wav-stub'
        |    ELSE 'mp4-stub' END AS format,
        |  CAST(CASE kind WHEN 'image' THEN 64 + a*4 WHEN 'audio' THEN 0
        |    ELSE 320 + a*2 END AS INT) AS width,
        |  CAST(CASE kind WHEN 'image' THEN 64 + b*4 WHEN 'audio' THEN 0
        |    ELSE 240 + b*2 END AS INT) AS height,
        |  CAST(CASE kind WHEN 'image' THEN 0 WHEN 'audio' THEN 1000 + a*100
        |    ELSE 5000 + b*200 END AS BIGINT) AS duration_ms,
        |  dg AS digest
        |FROM ab ORDER BY media_id""".stripMargin),

    // video frame sampling (rows-only like q_media_meta: the stub codec
    // derives deterministic frame digests; plumbing — one row per
    // sampled frame, partition-parallel — is the real thing)
    // mirrors MediaCodec.sampleFrames' hex-string digest chain
    q("q_frame_sample")((s, d) => {
      Multimodal.sampleFrames(Multimodal.mediaFromDocuments(s, d))
        .toDF().orderBy(col("media_id"), col("frame_index"))
    },
      """WITH v AS (SELECT doc_id AS media_id, sha256(text) AS c0
        |  FROM documents WHERE doc_id % 3 = 2),
        |c AS (SELECT media_id,
        |  sha256(c0) AS c1, sha256(sha256(c0)) AS c2,
        |  sha256(sha256(sha256(c0))) AS c3,
        |  sha256(sha256(sha256(sha256(c0)))) AS c4 FROM v)
        |SELECT media_id, frame_index, frame_digest FROM (
        |  SELECT media_id, 0 AS frame_index, substr(c1, 1, 16) AS frame_digest FROM c
        |  UNION ALL SELECT media_id, 30, substr(c2, 1, 16) FROM c
        |  UNION ALL SELECT media_id, 60, substr(c3, 1, 16) FROM c
        |  UNION ALL SELECT media_id, 90, substr(c4, 1, 16) FROM c)
        |ORDER BY media_id, frame_index""".stripMargin),

    // perceptual image hash: REAL BMP encode → REAL ImageIO decode →
    // integer block-mean aHash48, per image, partition-parallel. The
    // oracle recomputes the hash analytically from the fixture's cell
    // formula — so a decode/grid/threshold bug on the engine side
    // hash-mismatches (see [[graft.multimodal.ImagePhash]])
    q("q_image_phash")((s, d) => {
      ImagePhash.phashes(ImagePhash.imageCorpus(s, d))
        .toDF().orderBy(col("media_id"))
    },
      s"""WITH $phashSql
         |SELECT media_id, width, height, phash FROM ph
         |ORDER BY media_id""".stripMargin),

    // image near-dup: hamming-banded self-join over the 48-bit hash
    // (bands=4 > maxHamming=3 ⇒ recall 1 ⇒ identical to the oracle's
    // brute-force pair set). Planted resized twins land at hamming 0,
    // edited twins at ≤ 2
    // brute-force hamming pairs — exactly the banded engine result,
    // by the bands > maxHamming pigeonhole (recall 1)
    q("q_image_neardup")((s, d) => {
      ImagePhash.nearDupPairs(
          ImagePhash.phashes(ImagePhash.imageCorpus(s, d)).toDF(),
          "media_id", "phash", maxHamming = 3, bands = 4)
        .orderBy(col("id_a"), col("id_b"))
    },
      s"""WITH $phashSql
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
         |FROM ph a JOIN ph b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.phash, b.phash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin),

    // audio energy-profile hash: REAL WAV encode → REAL JDK PCM
    // decode → integer 48-segment hash; volume-scaled plants hash
    // identically (relative energies), oracle recomputes analytically
    q("q_audio_phash")((s, d) => {
      AudioPhash.ahashes(AudioPhash.audioCorpus(s, d))
        .toDF().orderBy(col("media_id"))
    },
      s"""WITH $ahashSql
         |SELECT media_id, n_samples, ahash FROM aph
         |ORDER BY media_id""".stripMargin),

    // audio near-dup through the same recall-1 hamming banding as the
    // image family — provably equal to the brute-force oracle
    q("q_audio_neardup")((s, d) => {
      ImagePhash.nearDupPairs(
          AudioPhash.ahashes(AudioPhash.audioCorpus(s, d)).toDF(),
          "media_id", "ahash", maxHamming = 3, bands = 4)
        .orderBy(col("id_a"), col("id_b"))
    },
      s"""WITH $ahashSql
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |  CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
         |FROM aph a JOIN aph b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin),

    // video near-dup by shared sampled-frame digests — the video
    // member of the multimodal dedup family: re-uploaded copies share
    // frame content even when container bytes differ. Inverted-index
    // equi-join on the digest (work ∝ collisions, never video²);
    // planted clones (doc%30==2, id+700000) share all 4 frames
    // cross-modal pair dedup: a (text, image) document pair collapses
    // when EITHER modality crosses its strict threshold (dup_or) or
    // BOTH cross loose ones (dup_and — the caption-tweaked re-upload
    // with a lightly edited image that neither single-modality pass
    // catches). Text candidates ride the shared-shingle inverted index
    // (recall 1 above jaccard 0), image candidates the hamming-banded
    // join (recall 1 by pigeonhole) — the combine is one full-outer
    // join of two collision-bounded pair frames on the pair key.
    // Plants: doc_id%30==0 docs get a +600000 twin whose caption is
    // the FIRST HALF of the tokens (mid-range jaccard ≈ 0.5 — below
    // strict 0.8) and whose image swaps grid cells 0/47 (hamming ≤ 2).
    // cross-modal: shingle-Jaccard over captions (48-bit md5 shingle
    // hashes, the q_jaccard_pairs machinery) full-outer-joined with the
    // analytic phash hamming pairs; the CASE mirrors the cell 0/47 swap
    q("q_multimodal_neardup")((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
      val tk = split(trim(col("text")), "\\s+")
      val half = array_join(
        slice(tk, lit(1), ((size(tk) + 1) / 2).cast("int")), " ")
      val captions = docs.select(col("doc_id"), col("text").as("caption"))
        .unionByName(docs.filter(col("doc_id") % 30 === 0)
          .select((col("doc_id") + 600000L).as("doc_id"), half.as("caption")))
      val textPairs = graft.dedup.Dedup.jaccardPairs(captions, "doc_id", "caption")
        .filter(col("jaccard") >= 0.3)
      val images = docs.select(col("doc_id")).as[Long].flatMap { id =>
        val base = ImagePhash.ImageRow(id, ImagePhash.patternBmp(id, 64, 48)) :: Nil
        val twin =
          if (id % 30 == 0)
            ImagePhash.ImageRow(id + 600000L, ImagePhash.patternBmp(
              id, 64, 48, swapCells = Some((0, ImagePhash.Bits - 1)))) :: Nil
          else Nil
        base ++ twin
      }
      val imgPairs = ImagePhash.nearDupPairs(
          ImagePhash.phashes(images).toDF(), "media_id", "phash",
          maxHamming = 3, bands = 4)
        .select(col("id_a"), col("id_b"), col("hamming"))
      CrossModal.pairPolicy(textPairs, imgPairs,
          textStrict = 0.8, textLoose = 0.3, imgStrict = 1, imgLoose = 3)
        .orderBy(col("id_a"), col("id_b"))
    },
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
        |cap AS (SELECT doc_id, text AS caption FROM docs
        |  UNION ALL
        |  SELECT doc_id + 600000,
        |    array_to_string(tk[1:CAST((len(tk) + 1) // 2 AS INT)], ' ')
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |        FROM docs WHERE doc_id % 30 = 0)),
        |toks AS (SELECT doc_id, string_split_regex(trim(caption), '\s+') AS tk FROM cap),
        |shm AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  generate_series(1, len(tk) - 2),
        |  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
        |  FROM toks WHERE len(tk) >= 3),
        |hvs AS (SELECT doc_id AS id, CAST(concat('0x', substr(md5(s), 1, 12)) AS BIGINT) AS hv FROM shm),
        |sizes AS (SELECT id, COUNT(*) AS sz FROM hvs GROUP BY id),
        |common AS (SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS common
        |  FROM hvs x JOIN hvs y ON x.hv = y.hv AND x.id < y.id GROUP BY 1, 2),
        |tp AS MATERIALIZED (SELECT id_a, id_b, jaccard FROM (
        |  SELECT id_a, id_b,
        |    CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) AS jaccard
        |  FROM common JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b)
        |  WHERE jaccard >= 0.3),
        |mimgs AS (SELECT doc_id AS media_id, doc_id AS src, 0 AS variant FROM docs
        |  UNION ALL SELECT doc_id + 600000, doc_id, 1 FROM docs WHERE doc_id % 30 = 0),
        |mbv AS (SELECT media_id, src, variant, unnest(generate_series(0, 47)) AS b
        |  FROM mimgs),
        |mv AS (SELECT media_id, b,
        |  CASE WHEN variant = 1 AND b = 0 THEN ((src + 1) * (47 + 17)) % 251
        |       WHEN variant = 1 AND b = 47 THEN ((src + 1) * (0 + 17)) % 251
        |       ELSE ((src + 1) * (b + 17)) % 251 END AS v
        |  FROM mbv),
        |mtot AS (SELECT media_id, CAST(SUM(v) AS BIGINT) AS total FROM mv GROUP BY 1),
        |mph AS MATERIALIZED (SELECT mv.media_id,
        |  CAST(SUM(CASE WHEN mv.v * 48 > mtot.total
        |    THEN (CAST(1 AS BIGINT) << mv.b) ELSE 0 END) AS BIGINT) AS phash
        |  FROM mv JOIN mtot USING (media_id) GROUP BY 1),
        |ip AS MATERIALIZED (SELECT a.media_id AS id_a, b.media_id AS id_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |  FROM mph a JOIN mph b ON a.media_id < b.media_id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
        |j AS (SELECT COALESCE(t.id_a, i.id_a) AS id_a,
        |  COALESCE(t.id_b, i.id_b) AS id_b, t.jaccard, i.hamming
        |  FROM tp t FULL OUTER JOIN ip i
        |    ON t.id_a = i.id_a AND t.id_b = i.id_b)
        |SELECT id_a, id_b, jaccard, hamming,
        |  (COALESCE(jaccard >= 0.3, FALSE) AND COALESCE(hamming <= 3, FALSE)) AS dup_and,
        |  (COALESCE(jaccard >= 0.8, FALSE) OR COALESCE(hamming <= 1, FALSE)) AS dup_or
        |FROM j
        |WHERE (COALESCE(jaccard >= 0.3, FALSE) AND COALESCE(hamming <= 3, FALSE))
        |   OR COALESCE(jaccard >= 0.8, FALSE) OR COALESCE(hamming <= 1, FALSE)
        |ORDER BY id_a, id_b""".stripMargin),

    // mirrors MediaCodec.sampleFrames' digest chain over base videos
    // plus the clone plants
    q("q_video_framedup")((s, d) => {
      import s.implicits._
      val base = t(s, d, "documents")
        .filter(col("doc_id") % 3 === 2)
        .select(col("doc_id").as("media_id"), col("text"))
      val media = base
        .unionByName(base.filter(col("media_id") % 30 === 2)
          .select((col("media_id") + 700000L).as("media_id"), col("text")))
        .select(col("media_id"), lit("video").as("kind"),
          col("text").cast("binary").as("payload"))
        .as[Multimodal.MediaRow]
      val frames = Multimodal.sampleFrames(media).toDF()
      frames.as("a").join(frames.as("b"),
          col("a.frame_digest") === col("b.frame_digest") &&
          col("a.media_id") < col("b.media_id"))
        .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("n_shared_frames"))
        .orderBy(col("id_a"), col("id_b"))
    },
      """WITH v AS (
        |  SELECT doc_id AS media_id, sha256(text) AS c0
        |    FROM documents WHERE doc_id % 3 = 2
        |  UNION ALL SELECT doc_id + 700000, sha256(text)
        |    FROM documents WHERE doc_id % 30 = 2),
        |c AS (SELECT media_id, sha256(c0) AS c1, sha256(sha256(c0)) AS c2,
        |  sha256(sha256(sha256(c0))) AS c3,
        |  sha256(sha256(sha256(sha256(c0)))) AS c4 FROM v),
        |f AS MATERIALIZED (SELECT media_id, frame_digest FROM (
        |  SELECT media_id, substr(c1, 1, 16) AS frame_digest FROM c
        |  UNION ALL SELECT media_id, substr(c2, 1, 16) FROM c
        |  UNION ALL SELECT media_id, substr(c3, 1, 16) FROM c
        |  UNION ALL SELECT media_id, substr(c4, 1, 16) FROM c))
        |SELECT a.media_id AS id_a, b.media_id AS id_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_shared_frames
        |FROM f a JOIN f b
        |  ON a.frame_digest = b.frame_digest AND a.media_id < b.media_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  )
}

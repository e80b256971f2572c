package graft
package registry

import org.apache.spark.sql.functions._

import graft.functions.RoundPortableExpr
import graft.ops.Multimodal
import graft.ops.TextPrimitives._
import graft.SparkEntry.t

/** Multimodal media decoding, resizing and fingerprints (`mm_*`). */
object MmEntries {
  def all: Seq[Entry] = Seq(
    // ---- cross-modal pair filtering (the LAION/CLIP-filter shape):
    // each document's TEXT embedding scored against its paired
    // "image" vector (the embeddings table keyed by the same id), and
    // the worst-aligned pairs surface as drop candidates — the
    // curation gate every paired multimodal dataset runs. Map-side
    // embed + one id-keyed join + a global bottom-k that plans as
    // TakeOrderedAndProject. ----
    Entry("mm_crossmodal_align", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(t(dir, "documents")).select($"doc_id", $"source", $"text")
      val txt = graft.embed.EmbedOps.withEmbedding(docs, "text", "hashing")
      val img = s.read.parquet(t(dir, "embeddings"))
        .select($"vec_id".as("doc_id"), $"embedding".as("img_emb"))
      txt.join(img, "doc_id")
        .select($"doc_id", $"source", RoundPortableExpr.r(
          lit(1.0) - graft.functions.VectorFunctions.cosineDistance($"embedding", $"img_emb"),
          4).as("align"))
        .orderBy($"align".asc, $"doc_id")
        .limit(10)
    },
      s"""WITH acc AS (SELECT doc_id, source, ${hashingEmbedAccSql("text", 64)} AS a
         |             FROM documents),
         |e AS (SELECT doc_id, source, ${hashingEmbedNormSql("a")} AS emb FROM acc)
         |SELECT e.doc_id, e.source,
         |       round(list_cosine_similarity(CAST(e.emb AS DOUBLE[]),
         |                                    CAST(i.embedding AS DOUBLE[])), 4) AS align
         |FROM e JOIN embeddings i ON i.vec_id = e.doc_id
         |ORDER BY align, e.doc_id LIMIT 10""".stripMargin),
    // ---- multimodal: binary column plumbing ----
    Entry("mm_binary_stats", (s, dir) =>
      Multimodal.binaryStats(Multimodal.fakeMediaTable(s.read.parquet(t(dir, "documents")))),
      """SELECT doc_id AS media_id,
        |       CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'image/jpeg' END AS media_type,
        |       CAST(n_chars % 640 + 1 AS INTEGER) AS width,
        |       CAST(n_chars % 480 + 1 AS INTEGER) AS height,
        |       CAST(length(text) AS BIGINT) AS n_bytes,
        |       md5(text) AS content_md5
        |FROM documents""".stripMargin),
    // ---- multimodal: REAL codec — synthesize PNGs, decode via ImageIO,
    // pool pixel stats; dims + gray sum are exact SQL functions of doc_id ----
    Entry("mm_decode_png", (s, dir) =>
      Multimodal.decodePngStats(Multimodal.pngMediaTable(s.read.parquet(t(dir, "documents")))),
      """SELECT doc_id AS media_id,
        |       CAST(doc_id % 7 + 2 AS INTEGER) AS width,
        |       CAST(doc_id % 5 + 2 AS INTEGER) AS height,
        |       CAST(list_sum(flatten(list_transform(range(doc_id % 7 + 2), x ->
        |         list_transform(range(doc_id % 5 + 2), y ->
        |           (doc_id * 31 + x * 7 + y * 13) % 256)))) AS BIGINT) AS sum_gray
        |FROM documents""".stripMargin),
    // ---- multimodal: REAL resize (decode → nearest-neighbor resample →
    // re-encode), verified by decoding the RESIZED bytes and matching
    // the SQL-computed sampled-pixel sum ----
    Entry("mm_resize_png", (s, dir) =>
      Multimodal.decodePngStats(Multimodal.resizePngNearest(
        Multimodal.pngMediaTable(s.read.parquet(t(dir, "documents"))), 4, 3)),
      // ---- multimodal PNG: dims + exact pixel sum from the generator formula ----
      """SELECT doc_id AS media_id,
        |       CAST(4 AS INTEGER) AS width,
        |       CAST(3 AS INTEGER) AS height,
        |       CAST(list_sum(flatten(list_transform(range(4), x ->
        |         list_transform(range(3), y ->
        |           (doc_id * 31 + ((x * (doc_id % 7 + 2)) // 4) * 7
        |                        + ((y * (doc_id % 5 + 2)) // 3) * 13) % 256))))
        |         AS BIGINT) AS sum_gray
        |FROM documents""".stripMargin),
    // ---- multimodal: dHash perceptual near-dup fingerprint, pinned by
    // its defining property — the hash survives a REAL resize +
    // re-encode roundtrip (decode → dHash → nearest-neighbor resample →
    // PNG re-encode → re-decode → dHash). One map pass; pixels never
    // shuffle, only the 8-byte fingerprints. The oracle recomputes both
    // hashes closed-form from the pixel generator. ----
    Entry("mm_phash_dedup", (s, dir) => {
      import s.implicits._
      Multimodal.dhashResizeCensus(
          Multimodal.pngMediaTable(s.read.parquet(t(dir, "documents"))), 4, 3)
        .select($"media_id",
          expr("cast(bit_count(h_orig ^ h_resized) as int)").as("hamming"),
          expr("cast(case when bit_count(h_orig ^ h_resized) <= 16 then 1 else 0 end as int)")
            .as("near"))
    }, {
      // closed-form twin of the real-codec path: pixel(id,x,y) =
      // (id·31 + 7x + 13y) mod 256, dims (id%7+2, id%5+2); dHash bit b
      // compares the 9×8-grid samples at gx=b%8 (+1) , gy=b/8; the
      // resized copy samples through the 4×3 intermediate grid first.
      def px(x: String, y: String) = s"(doc_id * 31 + ($x) * 7 + ($y) * 13) % 256"
      val ob = px("((b % 8) * w) // 9", "((b // 8) * h) // 8")
      val ob2 = px("(((b % 8) + 1) * w) // 9", "((b // 8) * h) // 8")
      val rb = px("((((b % 8) * 4) // 9) * w) // 4", "((((b // 8) * 3) // 8) * h) // 3")
      val rb2 = px("(((((b % 8) + 1) * 4) // 9) * w) // 4", "((((b // 8) * 3) // 8) * h) // 3")
      s"""WITH d AS (SELECT doc_id, doc_id % 7 + 2 AS w, doc_id % 5 + 2 AS h FROM documents),
         |c AS (SELECT doc_id AS media_id,
         |             CAST(len(list_filter(range(64), b ->
         |               (($ob2) > ($ob)) <> (($rb2) > ($rb)))) AS INTEGER) AS hamming
         |      FROM d)
         |SELECT media_id, hamming,
         |       CAST(CASE WHEN hamming <= 16 THEN 1 ELSE 0 END AS INTEGER) AS near
         |FROM c""".stripMargin
    }),
    // ---- multimodal: REAL audio codec — synthesize 16-bit PCM WAVs,
    // decode via javax.sound (RIFF parse), pool sample stats; every
    // output is an exact SQL function of doc_id ----
    Entry("mm_decode_wav", (s, dir) =>
      Multimodal.decodeWavStats(Multimodal.wavMediaTable(s.read.parquet(t(dir, "documents")))),
      """SELECT doc_id AS media_id,
        |       CAST(doc_id % 50 + 10 AS BIGINT) AS n_samples,
        |       CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS sample_rate,
        |       CAST(list_sum(list_transform(range(doc_id % 50 + 10), i ->
        |         (doc_id * 37 + i * 17) % 65536 - 32768)) AS BIGINT) AS sum_pcm,
        |       CAST(list_max(list_transform(range(doc_id % 50 + 10), i ->
        |         abs((doc_id * 37 + i * 17) % 65536 - 32768))) AS INTEGER) AS peak_pcm
        |FROM documents""".stripMargin),
    // ---- multimodal: banded-energy audio fingerprint, pinned by its
    // defining property — survives a REAL half-gain re-encode roundtrip
    // (decode → fingerprint → halve PCM → WAV re-encode → re-decode →
    // fingerprint). Map-only; the oracle recomputes both fingerprints
    // closed-form from the sample generator, integer truncation
    // matched exactly. ----
    Entry("mm_audio_fp", (s, dir) => {
      import s.implicits._
      Multimodal.audioFpGainCensus(
          Multimodal.wavMediaTable(s.read.parquet(t(dir, "documents"))))
        .select($"media_id", $"h_orig".as("fp"),
          expr("cast(bit_count(h_orig ^ h_scaled) as int)").as("hamming"),
          expr("cast(case when bit_count(h_orig ^ h_scaled) <= 2 then 1 else 0 end as int)")
            .as("near"))
    }, {
      // closed-form twin of the real-codec path: sample(id,i) =
      // (id·37 + 17i) mod 65536 − 32768, n = id%50+10; banded |PCM|
      // energies over 16 windows, one bit per adjacent pair. The
      // half-gain copy's |trunc(s/2)| = |s| // 2 exactly (trunc toward
      // zero), so integer rounding matches the JVM.
      def energies(scale: String) =
        s"""list_transform(range(16), w -> coalesce(list_sum(list_transform(
           |    list_filter(range(n), i -> i >= (w * n) // 16 AND i < ((w + 1) * n) // 16),
           |    i -> abs((doc_id * 37 + i * 17) % 65536 - 32768)$scale)), 0))""".stripMargin
      s"""WITH d AS (SELECT doc_id, doc_id % 50 + 10 AS n FROM documents),
         |e AS (SELECT doc_id AS media_id,
         |             ${energies("")} AS eo,
         |             ${energies(" // 2")} AS es
         |      FROM d),
         |c AS (SELECT media_id,
         |             CAST(coalesce(list_sum(list_transform(range(15), w ->
         |               CASE WHEN eo[w + 2] > eo[w + 1] THEN 1 << w ELSE 0 END)), 0)
         |               AS BIGINT) AS fp,
         |             CAST(len(list_filter(range(15), w ->
         |               (eo[w + 2] > eo[w + 1]) <> (es[w + 2] > es[w + 1])))
         |               AS INTEGER) AS hamming
         |      FROM e)
         |SELECT media_id, fp, hamming,
         |       CAST(CASE WHEN hamming <= 2 THEN 1 ELSE 0 END AS INTEGER) AS near
         |FROM c""".stripMargin
    }),
    // ---- multimodal: video-style container demux + every-2nd-frame
    // sampling + REAL per-frame PNG decode (generator/flatMap shape —
    // frames multiply map-side, container bytes never shuffle) ----
    Entry("mm_frame_sample", (s, dir) =>
      Multimodal.sampleFrames(Multimodal.videoMediaTable(s.read.parquet(t(dir, "documents"))), 2),
      """SELECT doc_id AS media_id, CAST(t.f AS INTEGER) AS frame_idx,
        |       CAST(doc_id % 7 + 2 AS INTEGER) AS width,
        |       CAST(doc_id % 5 + 2 AS INTEGER) AS height,
        |       CAST(list_sum(flatten(list_transform(range(doc_id % 7 + 2), x ->
        |         list_transform(range(doc_id % 5 + 2), y ->
        |           (doc_id * 31 + t.f * 11 + x * 7 + y * 13) % 256)))) AS BIGINT) AS sum_gray
        |FROM documents, range(10) t(f)
        |WHERE t.f < doc_id % 6 + 4 AND t.f % 2 = 0""".stripMargin),
    Entry("mm_decode_stub", (s, dir) => {
      val feats = Multimodal.withFeatures(Multimodal.fakeMediaTable(s.read.parquet(t(dir, "documents"))))
      // scalar per-dim columns (checker-safe) — float cast mirrored by
      // CAST(... AS REAL) in the oracle for bit-identical rounding
      feats.select(col("media_id") +: (0 until 8).map(j =>
        RoundPortableExpr.r(col("features")(j).cast("double"), 6).as(s"f$j")): _*)
    }, {
      val fs = (0 until 8).map { j =>
        s"round(CAST(CAST(CAST(('0x' || substr(md5(text), ${4 * j + 1}, 4)) AS BIGINT) / 65535.0 AS REAL) AS DOUBLE), 6) AS f$j"
      }.mkString(",\n|       ")
      s"""SELECT doc_id AS media_id,
         |       $fs
         |FROM documents""".stripMargin
    })
  )
}

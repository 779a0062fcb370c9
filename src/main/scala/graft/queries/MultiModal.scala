package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.multimodal.Media

/** Multimodal pipeline queries (binary payload → stub decode →
  * features / frames). Every query is oracle-checked via
  * materialize-then-replay: the codec decode itself isn't
  * SQL-expressible (MediaSpec covers those semantics), but each query
  * materializes its intermediate table and lets DuckDB replay the
  * SQL-expressible tail.
  * m62 materializes the ingest table (real
  * PNG/WAV payloads in a binary column) and DuckDB independently
  * verifies the binary roundtrip (octet_length per payload) and the
  * frame-sampling arithmetic (frame count from byte length) against
  * the frames the Spark operator actually emitted.
  */
object MultiModal extends QueryModule {

  /** Stage the fabricated media corpus ONCE per (JVM, SF dir) and serve
    * every m-query's reads from the staged parquet (r22; verdict
    * directive #5 — the t37 kgram / TpcH `ps` index-once discipline).
    *
    * `ingestFromDocuments` synthesizes real PNG/WAV payloads per
    * document — in production those bytes are ON DISK and ingest runs
    * once, so re-synthesizing + re-writing the identical corpus inside
    * every timed m60–m64 invocation measured PNG/WAV *encoding*, not
    * the decode/feature operators under test. The path is the exact
    * one the DuckDB oracle replays (`__SIDE__/media_ingest`), so the
    * oracle contract is unchanged; content is deterministic and
    * `Staging.parquetOnce` re-stages if the files vanish. This stages INPUT fixtures only — m60's feature table
    * (operator OUTPUT) is still recomputed and rewritten every run.
    */
  private def ingestPath(s: SparkSession, dir: String): String =
    Staging.parquetOnce(s"$dir#media_ingest",
      s"${Staging.sideDir(dir)}/media_ingest") { p =>
      val t0 = System.nanoTime()
      Media.ingestFromDocuments(s, dir).toDF().write.mode("overwrite").parquet(p)
      System.err.println(f"[stage] media_ingest staged in ${(System.nanoTime() - t0) / 1e9}%.2f s (one-time per JVM+dir; excluded from timed medians by design)")
    }

  private def ingest(s: SparkSession, dir: String) = {
    import s.implicits._
    s.read.parquet(ingestPath(s, dir)).as[Media.MediaRecord]
  }

  def declared: Seq[Query] = Seq(
    // per-modality feature aggregate over decoded payloads —
    // oracle-checked via materialize-then-replay (the m61/m62 trick):
    // the codec decode stays spec-land (MediaSpec), but the per-media
    // feature table is written to parquet and BOTH engines aggregate
    // it, so the count/total_bytes/min/max arithmetic is verified.
    // re-aggregates the materialized per-media feature table; max/min
    // select stored doubles verbatim (no float arithmetic on either
    // side), sum/count are integer — representation-safe.
    Query("m60_media_features",
      """SELECT media_type, count(*) AS n_media,
        |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        |  max(brightness) AS max_brightness,
        |  min(brightness) AS min_brightness
        |FROM read_parquet('__SIDE__/media_features/*.parquet')
        |GROUP BY media_type""".stripMargin) { (s, dir) =>
      val p = s"${Staging.sideDir(dir)}/media_features"
      // feature table (operator output) is recomputed + rewritten every
      // run — only the ingest corpus (input) is staged
      Media.extractFeatures(ingest(s, dir)).toDF()
        .select(col("media_id"), col("media_type"), col("n_bytes"),
          col("brightness"))
        .write.mode("overwrite").parquet(p)
      s.read.parquet(p)
        .groupBy(col("media_type"))
        .agg(count(lit(1)).as("n_media"),
             sum(col("n_bytes")).as("total_bytes"),
             max(col("brightness")).as("max_brightness"),
             min(col("brightness")).as("min_brightness"))
    },

    // pseudo-frame sampling from "video" payloads — oracle-checked:
    // the stride arithmetic (frame count and last offset for a
    // size-64/stride-32 window over the payload) is recomputed by
    // DuckDB from octet_length of the materialized ingest table.
    // frames = range(0, max(len-64, 0), 32): count is the ceiling
    // division, last offset is (count-1)*32; media with no frame
    // (len <= 64) emit no row at all.
    Query("m61_frame_sampling",
      """SELECT media_id,
        |  (greatest(octet_length(payload) - 64, 0) + 31) // 32 AS n_frames,
        |  ((greatest(octet_length(payload) - 64, 0) + 31) // 32 - 1) * 32 AS last_offset
        |FROM read_parquet('__SIDE__/media_ingest/*.parquet')
        |WHERE meta.media_type = 'video' AND octet_length(payload) > 64""".stripMargin) { (s, dir) =>
      Media.sampleFrames(ingest(s, dir), frameSize = 64, stride = 32).toDF()
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"),
             max(col("offset")).cast("long").as("last_offset"))
    },

    // REAL ImageIO decode, independently cross-checked: the oracle
    // parses each materialized PNG's IHDR header (width/height as
    // big-endian u32 at byte offsets 17/21) with DuckDB byte
    // arithmetic — so the JDK codec's decoded dimensions are verified
    // against a second, independent reading of the same bytes. This
    // flips the image-decode path from rows-only to oracle-checked.
    // PNG layout: 8-byte signature, 4-byte IHDR length, 4-byte "IHDR",
    // then width and height as big-endian u32 — hex chars 33-40 and
    // 41-48 of the payload. An independent header parse of the SAME
    // bytes ImageIO decoded.
    Query("m63_image_decode_dims",
      """SELECT media_id,
        |  CAST(('0x' || substr(hex(payload), 33, 8)) AS BIGINT) AS width,
        |  CAST(('0x' || substr(hex(payload), 41, 8)) AS BIGINT) AS height
        |FROM read_parquet('__SIDE__/media_ingest/*.parquet')
        |WHERE meta.media_type = 'image'""".stripMargin) { (s, dir) =>
      import s.implicits._
      ingest(s, dir)
        .filter(col("meta.media_type") === "image")
        .mapPartitions { it =>
          val codec = Media.ImageCodec.init()
          it.map { m =>
            val img = codec.decode(m.payload).get
            (m.media_id, img.getWidth.toLong, img.getHeight.toLong)
          }
        }.toDF("media_id", "width", "height")
    },

    // REAL javax.sound decode, independently cross-checked: the oracle
    // recomputes sample count from the canonical 44-byte PCM WAV
    // header (data bytes / 2) and re-reads the sample rate as a
    // little-endian u32 at byte offset 25 — two independent readers of
    // the same WAV bytes, like m63 for PNG.
    // Canonical PCM WAV: 44-byte header, 16-bit mono data; sample rate
    // is a little-endian u32 at byte offset 25 (hex chars 49-56,
    // byte-swapped to big-endian for the cast).
    Query("m64_audio_decode_props",
      """SELECT media_id,
        |  (octet_length(payload) - 44) // 2 AS n_samples,
        |  CAST(('0x' || substr(hex(payload), 55, 2) || substr(hex(payload), 53, 2)
        |        || substr(hex(payload), 51, 2) || substr(hex(payload), 49, 2))
        |       AS BIGINT) AS sample_rate
        |FROM read_parquet('__SIDE__/media_ingest/*.parquet')
        |WHERE meta.media_type = 'audio'""".stripMargin) { (s, dir) =>
      import s.implicits._
      ingest(s, dir)
        .filter(col("meta.media_type") === "audio")
        .mapPartitions { it =>
          val codec = Media.AudioCodec.init()
          it.map { m =>
            val (samples, rate) = codec.decode(m.payload).get
            (m.media_id, samples.length.toLong, rate.toLong)
          }
        }.toDF("media_id", "n_samples", "sample_rate")
    },

    // materialized media inventory: payload byte sizes + REAL emitted
    // frame counts, cross-verified by DuckDB from octet_length
    // n_frames must equal the arithmetic count of a stride-32 window of
    // size 64 over the payload bytes — frames only exist for video
    Query("m62_media_inventory",
      """SELECT media_id, meta.media_type AS media_type,
        |  octet_length(payload) AS n_bytes,
        |  CASE WHEN meta.media_type = 'video'
        |       THEN (greatest(octet_length(payload) - 64, 0) + 31) // 32
        |       ELSE 0 END AS n_frames
        |FROM read_parquet('__SIDE__/media_ingest/*.parquet')""".stripMargin) { (s, dir) =>
      val m = ingest(s, dir)
      val fc = Media.sampleFrames(m, frameSize = 64, stride = 32).toDF()
        .groupBy(col("media_id")).agg(count(lit(1)).as("nf"))
      m.toDF().select(col("media_id"),
          col("meta.media_type").as("media_type"),
          length(col("payload")).as("n_bytes"))
        .join(fc, Seq("media_id"), "left")
        .select(col("media_id"), col("media_type"), col("n_bytes"),
          coalesce(col("nf"), lit(0L)).as("n_frames"))
    }
  )
}

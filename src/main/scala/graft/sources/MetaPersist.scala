package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.MetaFrame

/** Metadata durability (beyond reference — the reference's metadata dies
  * with the Python process): writes a `_metaframe.json` sidecar next to the
  * parquet output and restores it on read, so pipeline provenance and
  * `primary_key` survive across jobs.
  *
  * Sidecar values are stringified except pk (kept as a list). A uniqueness
  * proof is not part of `metadata`, so it is never persisted — a fresh
  * reader cannot prove the file wasn't modified, and a read frame starts
  * unproven. Driver-side, O(metadata) — nothing touches executors.
  */
object MetaPersist {

  private val SidecarName = "_metaframe.json"

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Writes the frame as parquet plus the metadata sidecar; `partitionBy`
    * lays the data out one directory per key value (the pruning structure
    * `Similarity.writeIvfIndex` builds on). */
  def writeParquet(mf: MetaFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = mf.df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
    writeSidecar(path, mf.metadata)
  }

  /** Writes just the sidecar for an output directory that already exists (or
    * is being produced by a streaming file sink). */
  def writeSidecar(path: String, metadata: Map[String, Any]): Unit = {
    val entries = metadata.map {
      case (k, v: Seq[_]) =>
        s""""${esc(k)}": [${v.map(x => s""""${esc(x.toString)}"""").mkString(", ")}]"""
      case (k, v) => s""""${esc(k)}": "${esc(String.valueOf(v))}""""
    }
    Files.createDirectories(Paths.get(path))
    Files.write(
      Paths.get(path, SidecarName),
      entries.mkString("{", ", ", "}").getBytes(StandardCharsets.UTF_8))
  }

  /** Reads parquet + sidecar back into the metadata layer (empty metadata if
    * no sidecar is present). */
  def readParquet(spark: SparkSession, path: String): MetaFrame =
    MetaFrame(spark.read.parquet(path), readSidecar(path))

  /** Persists a TRAINED-MODEL table (unigram/bigram LM counts, IVF
    * centroids, quantization tables, BPE merge tables / unigram
    * vocabularies via the [[graft.operators.Corpus]] kind wrappers, …)
    * with its training parameters in the
    * sidecar, tagged `model -> kind` — the train-once/score-batches flow
    * (`Corpus.lmCounts` → `lmScoreAgainst`, `Similarity.trainCentroids` →
    * `ivfTopK`) otherwise dies with the session. Counts are exact longs and
    * centroids micro-grid floats, so a reloaded model scores BIT-IDENTICALLY
    * to the in-session one (pinned in SourcesSpec). Convention on top of
    * [[writeParquet]]: the artifact IS a MetaFrame, so any sidecar-aware
    * reader still understands it. */
  def writeModel(
      df: org.apache.spark.sql.DataFrame,
      path: String,
      kind: String,
      params: Map[String, Any],
      partitionBy: Seq[String] = Nil): Unit =
    writeParquet(MetaFrame(df, params + ("model" -> kind)), path, partitionBy)

  /** Loads a model artifact, refusing a sidecar of the wrong kind — a
    * scorer handed the wrong artifact (or a bare un-tagged table) must fail
    * loudly at load, not produce silently wrong scores downstream. Returns
    * the table plus the recorded training params as metadata. */
  def readModel(spark: SparkSession, path: String, kind: String): MetaFrame = {
    val mf = readParquet(spark, path)
    require(mf.metadata.get("model").contains(kind),
      s"expected a '$kind' model sidecar at $path, found ${mf.metadata.get("model")}")
    mf
  }

  /** Reads just the sidecar of an output directory (empty map when absent). */
  def readSidecar(path: String): Map[String, Any] = {
    val sidecar = Paths.get(path, SidecarName)
    if (!Files.exists(sidecar)) Map.empty
    else parse(new String(Files.readAllBytes(sidecar), StandardCharsets.UTF_8))
  }

  /** Minimal parser for the sidecar's own output format (flat string /
    * string-list values only). */
  private[sources] def parse(json: String): Map[String, Any] = {
    val kv = """"((?:[^"\\]|\\.)*)"\s*:\s*(\[[^\]]*\]|"(?:[^"\\]|\\.)*")""".r
    val str = """"((?:[^"\\]|\\.)*)"""".r
    kv.findAllMatchIn(json).map { m =>
      val key = un(m.group(1))
      val raw = m.group(2)
      val value: Any =
        if (raw.startsWith("[")) str.findAllMatchIn(raw).map(mm => un(mm.group(1))).toSeq
        else un(raw.substring(1, raw.length - 1))
      key -> value
    }.toMap
  }

  /** Single left-to-right pass — sequential String.replace would re-scan the
    * output of earlier replacements (e.g. backslash+'n' serialized as \\n
    * came back as backslash+newline). Inverse of [[esc]]. */
  private def un(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'u' if i + 5 < s.length =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case other => sb.append(other); i += 2 // covers \" and \\
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}

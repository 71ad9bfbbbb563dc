package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The generator's manifest: what was generated and what the correct
  * outputs are. */
final class Manifest(node: JsonNode) {
  private def opt(k: String) = Option(node.get(k)).filterNot(_.isNull)
  val files: IndexedSeq[Manifest.CdcFile] = opt("files").toIndexedSeq
    .flatMap(_.elements().asScala).map(f => Manifest.CdcFile(
      f.get("name").asText, Option(f.get("role")).map(_.asText).getOrElse(""),
      Option(f.get("round")).map(_.asInt).getOrElse(0), f.get("rows").asInt,
      Option(f.get("id_lo")).map(_.asInt).getOrElse(0),
      Option(f.get("id_hi")).map(_.asInt).getOrElse(0),
      Option(f.get("keyed")).map(_.asInt).getOrElse(0),
      Option(f.get("unhappy")).map(_.asInt).getOrElse(0)))
  val periodMs: Double = opt("period_ms").map(_.asDouble).getOrElse(0.0)
  val phaseAShare: Double = opt("phase_a_share").map(_.asDouble).getOrElse(0.5)
  def text(k: String): String = opt(k).map(_.asText).getOrElse("")
}

object Manifest {
  final case class CdcFile(name: String, role: String, round: Int, rows: Int,
                           idLo: Int, idHi: Int, keyed: Int, unhappy: Int)

  def load(path: String): Manifest =
    new Manifest(new ObjectMapper().readTree(new java.io.File(path)))
}

/** How far the streams trail the release thread, sampled at each
  * micro-batch progress report (file sources with one file per trigger:
  * a batch's end offset is the index of the file it read). */
object Lag {
  @volatile var released = 0L

  def onProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit =
    p.sources.headOption.map(_.endOffset).foreach { off =>
      val m = "\"logOffset\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(String.valueOf(off))
      m.foreach(x => Trace.max("sources.lag_files", released - (x.group(1).toLong + 1)))
    }
}

package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions.col

import graft.tools.Cert

/** The scale certifications at fixture scale, on the shared test session:
  * each run form must reproduce its `-expected` twin's answer and pass
  * every gate it prints. */
class CertSpec extends GraftSuite {

  private def run(target: String, args: String*): JsonNode = {
    val line = Cert.targets(target)(spark, args.toArray)
    info(line)
    new ObjectMapper().readTree(line.substring(line.indexOf(" {")))
  }

  private def gates(line: JsonNode): Map[String, Boolean] =
    line.fieldNames().asScala.filter(_.endsWith("_match"))
      .map(k => k -> line.get(k).asBoolean()).toMap

  test("guard: three slices through the stream equal the sequential oracle, " +
    "quota and minEst stages on") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cert-docs")
    spark.read.parquet(s"$sf/documents.parquet")
      .repartitionByRange(3, col("doc_id"))
      .write.mode("overwrite").parquet(dir.toString)
    // quotaCap 10 saturates the ~25-doc sources, so every reason occurs
    val args = Seq(dir.toString, "10", "0.5")
    val expected = run("guard-expected", args: _*)
    val got = run("guard", args: _*)
    assert(expected.get("slices").asInt === 3)
    assert(got.get("slices").asInt === 3)
    Seq("accepted", "exact_dup", "near_dup", "quota").foreach { k =>
      assert(got.get(k).asLong === expected.get(k).asLong, k)
    }
    assert(expected.get("accepted").asLong > 0)
    assert(expected.get("quota").asLong > 0)
    val g = gates(got)
    assert(g.keySet === Set("accepted_match", "exact_match", "near_match",
      "quota_match"))
    assert(g.values.forall(identity), g)
    // each store's Bloom sidecar stays within 2x the store it gates:
    // shards start small and grow with their own partitions
    Seq("fp", "band").foreach { store =>
      val sidecarMb = got.get(s"${store}_sidecar_mb").asDouble
      val storeMb = got.get(s"${store}_store_mb").asDouble
      assert(sidecarMb <= 2 * storeMb,
        s"$store sidecar $sidecarMb MB beside a $storeMb MB store")
    }
  }

  test("ivf: the maintained index reproduces the expected result hash") {
    val emb = s"$sf/embeddings.parquet"
    val expected = run("ivf-expected", emb)
    val got = run("ivf", emb)
    assert(got.get("hash_match").asBoolean, got)
    assert(got.get("oracle_hash").asText === expected.get("hash").asText)
    assert(got.get("rows").asLong === expected.get("rows").asLong)
  }
}

package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

/** Writes `expected.json`: the fingerprint of every batch basket query.
  * Run once on the commit that defines the expected outputs:
  * `java -cp <classpath> perfbench.RecordExpected <benchmark dir>`.
  */
object RecordExpected {
  def main(args: Array[String]): Unit = {
    val bench = new File(args(0))
    val root = java.nio.file.Files.createTempDirectory("perfbench-record").toFile
    val spark = Main.session(Runtime.getRuntime.availableProcessors(), root)
    val sf = new File(bench, "data/sf0.1").getAbsolutePath
    val workloads = Main.mapper.readTree(new File(bench, "config.json")).path("workloads")
    val names = workloads.properties().asScala.toSeq
      .filter(_.getKey.startsWith("batch"))
      .flatMap(_.getValue.path("queries").elements().asScala.map(_.asText())).distinct.sorted
    val out = Main.mapper.createObjectNode()
    names.foreach { q =>
      val fp = Fingerprint.of(graft.SparkEntry.queries(q)(spark, sf))
      out.putObject(q).put("rows", fp.rows).put("hash", fp.hash)
      System.err.println(s"[perfbench] $q $fp")
    }
    Main.mapper.writerWithDefaultPrettyPrinter().writeValue(new File(bench, "expected.json"), out)
    spark.stop()
  }
}

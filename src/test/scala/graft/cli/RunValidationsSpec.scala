package graft.cli

import java.nio.file.Files
import graft.SparkSpec
import graft.core.ParquetTable

class RunValidationsSpec extends SparkSpec {

  test("a URI warehouse finds and validates its corpus tables") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-validate-uri")
    val docs = Seq((1L, "hello world", "en", "web"), (2L, "hola", "es", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .selectExpr("*", "length(text) as n_chars")
    ParquetTable.write(docs, dir.resolve("corpus/documents").toString)

    val wh = dir.toUri.toString.stripSuffix("/")
    assert(wh.startsWith("file:"))
    val results = RunValidations.validateAll(spark, wh)
    val byTable = results.toMap
    assert(byTable.keySet.contains("corpus/documents"),
      "corpus suite skipped for a file:// warehouse")
    assert(byTable("corpus/documents").exists(_.success),
      byTable("corpus/documents").map(_.summary))
    assert(!byTable.contains("corpus/embeddings"), "absent table validated")
    // the flights layers were never built: reported missing, not thrown
    assert(byTable("silver/flights").isEmpty)
    assert(results.size === 9)
  }
}

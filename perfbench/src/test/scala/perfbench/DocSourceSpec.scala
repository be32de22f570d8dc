package perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{CurationPipeline, KafkaEnvelope}

class DocSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val long = "spark data table row column key value query join filter scan sort"

  test("the gate oracle agrees with CurationPipeline.gate") {
    import spark.implicits._
    val texts = Seq("", "short text", long, long.take(63), long.take(64),
      long.take(40) + " 1234567890123456789012345678", "ab " + "1" * 70, long + " 12345",
      long.replace(' ', '-'), long + " !!!! ????")
    val kept = texts.toDF("text").filter(CurationPipeline.gate(col("text")))
      .as[String].collect().toSet
    texts.foreach(t => assert(DocSource.passesGate(t) == kept(t), s"'$t'"))
    assert(kept.nonEmpty && kept.size < texts.size)
  }

  test("fresh texts are unique, re-sends repeat them, and the expected count holds") {
    val src = new DocSource(IndexedSeq(long, "too short", long + " again"), 7L)
    val dir = Files.createTempDirectory("perfbench-docsource")
    try {
      DocSource.publish(dir, "part-00000.json", src.lines(3000, 0L))
      val docs = KafkaEnvelope.decodeDocs(spark.read.schema(KafkaEnvelope.envelopeSchema)
        .json(dir.resolve("part-00000.json").toString)).select("doc_id", "text").collect()
      val texts = docs.map(_.getString(1))
      assert(docs.length == 3000 && src.offered == 3000)
      assert(docs.map(_.getLong(0)).distinct.length == 3000, "doc ids are unique")
      val resent = 1.0 - texts.distinct.length / 3000.0
      assert(math.abs(resent - DocSource.ResendShare) < 0.03, s"re-sent share $resent")
      assert(texts.distinct.count(DocSource.passesGate) == src.distinctPassing)
      assert(texts.count(t => !DocSource.passesGate(t)) == src.offeredFailing)
      assert(src.offeredFailing > 0 && src.distinctPassing > 0)
    } finally IngestWorkload.deleteTree(dir)
  }
}

package perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("self time subtracts the time children cover") {
    val spans = Seq(
      Span(1, 0, "op", "q", "q", 0L, 1000000000L),
      Span(2, 1, "queries", "build", "q", 0L, 300000000L),
      Span(3, 1, "exec", "collect", "q", 400000000L, 900000000L))
    val self = Tracer.selfSeconds(spans)
    assert(math.abs(self(1) - 0.2) < 1e-9)
    assert(math.abs(self(2) - 0.3) < 1e-9)
    assert(math.abs(self(3) - 0.5) < 1e-9)
  }

  test("a disabled tracer records nothing and sets no job property") {
    val t = new Tracer(false)
    t.sc = Some(spark.sparkContext)
    assert(t.span("exec", "x", "q")(spark.sparkContext.getLocalProperty(Tracer.SpanKey)) == null)
    assert(t.spans.isEmpty)
  }

  test("jobs, stages and tasks are attributed to the span that started them") {
    val sc = spark.sparkContext
    val ledger = new JobLedger
    sc.addSparkListener(ledger)
    val t = new Tracer(true)
    t.sc = Some(sc)
    try {
      t.span("op", "q", "q") {
        t.span("queries", "build", "q")(spark.range(100).count())
        t.span("exec", "collect", "q") {
          spark.range(1000).repartition(2).groupBy((col("id") % 3).as("k")).count().collect()
        }
      }
      spark.range(10).count() // outside any span
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(ledger)
    val byLayer = t.spans.map(s => s.layer -> s.id).toMap
    val work = ledger.bySpan
    assert(work(byLayer("queries")).jobs >= 1)
    assert(work(byLayer("exec")).jobs >= 1)
    assert(work(byLayer("exec")).tasks >= 2)
    assert(work(byLayer("exec")).shuffleWrite > 0)
    assert(!work.contains(byLayer("op")), "the parent span started no job itself")
    assert(work(0).jobs >= 1, "jobs outside every span land on span 0")
    assert(sc.getLocalProperty(Tracer.SpanKey) == null, "the property is restored")
    val ids = t.spans.map(_.id).toSet
    assert(t.spans.forall(s => s.parent == 0 || ids(s.parent)))
  }

  test("the stream source log maps each file to its micro-batch") {
    val dir = Files.createTempDirectory("perfbench-srclog")
    try {
      Files.writeString(dir.resolve("0"),
        "v1\n{\"path\":\"file:///t/part-00000.json\",\"timestamp\":1,\"batchId\":0}\n")
      Files.writeString(dir.resolve("1.compact"),
        "v1\n{\"path\":\"file:///t/part-00000.json\",\"timestamp\":1,\"batchId\":0}\n" +
          "{\"path\":\"file:///t/part-00001.json\",\"timestamp\":2,\"batchId\":1}\n")
      assert(IngestWorkload.sourceLog(dir) ==
        Map("part-00000.json" -> 0L, "part-00001.json" -> 1L))
    } finally IngestWorkload.deleteTree(dir)
  }
}

package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Records the expected digest of every declared query on the benchmark
  * fixture (lists/expected.tsv) and each query's cold op time, from which
  * the query_tail / query_heavy split is frozen.
  *
  *   Record <fixtureDir> <expected.tsv> <times.tsv>
  *
  * Every query runs twice: pass 1 in name order with cold stage caches,
  * pass 2 in reverse order with warm ones. A query whose digest differs
  * between the passes is recorded rows-only. */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(fixtures, expectedOut, timesOut) = args
    val spark = Main.session()
    val fns = graft.SparkEntry.queries
    val names = fns.keys.toSeq.sorted
    def once(q: String): (Digest, Double) = {
      val t0 = System.nanoTime()
      val d = QueryWorkload.digestOf(QueryWorkload.digestFrame(fns(q)(spark, fixtures)).collect().head)
      val t = (System.nanoTime() - t0) / 1e9
      QueryWorkload.sweep(spark)
      (d, t)
    }
    val first = names.map(q => q -> once(q)).toMap
    val second = names.reverse.map(q => q -> once(q)._1).toMap
    val expected = names.map { q =>
      val (a, b) = (first(q)._1, second(q))
      if (a.rows != b.rows) sys.error(s"$q row count differs between passes: ${a.rows} vs ${b.rows}")
      if (a == b) s"$q ${a.rows} ${a.sum} ${a.xor}" else s"$q ${a.rows} - -"
    }
    Files.write(Paths.get(expectedOut), expected.asJava)
    Files.write(Paths.get(timesOut), names.map(q => f"$q ${first(q)._2}%.4f").asJava)
    spark.stop()
  }
}

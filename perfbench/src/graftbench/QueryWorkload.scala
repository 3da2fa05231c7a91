package graftbench

import org.apache.spark.sql.SparkSession

/** Recorded output of one query on the generated inputs. */
final case class Expected(rows: Long, hash: String)

/** `suite_mix`: the recorded queries in seed order, each built through
  * `SparkEntry.queries` and run into the noop sink; the shared subplan
  * caches are released after every pass. */
final class QueryWorkload(dir: String, names: Seq[String], expected: Map[String, Expected])
    extends Workload {
  private var cacheFills = 0L
  private var tracedPasses = 0

  def setup(spark: SparkSession): Unit = ()

  /** The first timed pass is still warming up; the median of three
    * leaves it out. */
  val minPasses = 3

  /** Warm-up: every query's output checked, as many queries at a time as
    * there are cores (see the steadiness notes in perfbench/README.md for
    * the warm-ups that were tried). */
  def warm(spark: SparkSession, tr: Tracer): Seq[Op] = digests(spark)

  /** Outputs are checked in the warm-up. */
  def check(spark: SparkSession): Seq[Op] = Nil

  /** Row count and content hash of every query against the recorded
    * ones. Run concurrently: the pass is untimed, and warming the JVM
    * does not need the queries one by one. */
  private def digests(spark: SparkSession): Seq[Op] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      spark.sparkContext.defaultParallelism)
    try {
      val futures = names.map { n =>
        pool.submit(new java.util.concurrent.Callable[Op] {
          def call(): Op = {
            val t0 = System.nanoTime()
            val err = try {
              val (rows, hash) = Queries.digest(Queries.build(spark, n, dir))
              val e = expected(n)
              if (rows == e.rows && hash == e.hash) None
              else Some(s"rows=$rows hash=$hash, recorded rows=${e.rows} hash=${e.hash}")
            } catch { case t: Throwable => Some(t.toString.take(300)) }
            Op("check", n, (System.nanoTime() - t0) / 1e9, err)
          }
        })
      }
      futures.map(_.get())
    } finally {
      pool.shutdown()
      Queries.release(spark, dir)
    }
  }

  private def persisted(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def query(spark: SparkSession, tr: Tracer, parent: Int, name: String): Op = {
    val t0 = System.nanoTime()
    var err: Option[String] = None
    tr.span(parent, "query") { q =>
      try {
        val before = if (tr.enabled) persisted(spark) else Set.empty[Int]
        val df = tr.span(q, "build")(_ => Queries.build(spark, name, dir))
        if (tr.enabled) {
          cacheFills += (persisted(spark) -- before).size
          tr.phases() // planning done while building belongs to the build span
        }
        var exec = 0
        tr.span(q, "execute") { e => exec = e; Queries.runNoop(df) }
        if (tr.enabled) tr.phases().foreach { case (phase, s, e) =>
          tr.add(exec, s"plan.$phase", s * 1000000L, e * 1000000L)
        }
      } catch { case t: Throwable => err = Some(t.toString.take(300)) }
    }
    Op("query", name, (System.nanoTime() - t0) / 1e9, err)
  }

  def pass(spark: SparkSession, tr: Tracer, parent: Int): Seq[Op] = {
    if (tr.enabled) tracedPasses += 1
    val ops = names.map(query(spark, tr, parent, _))
    tr.span(parent, "release")(_ => Queries.release(spark, dir))
    ops
  }

  def layers(spark: SparkSession, ops: Seq[Op]): Map[String, Double] =
    Map("operators.cache_fills" -> cacheFills.toDouble / math.max(1, tracedPasses))
}

object QueryWorkload {
  /** `suite_mix`: the recorded queries, one per operator module, in seed
    * order. */
  def suiteOrder(recorded: Map[String, Expected], seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(recorded.keys.toSeq.sorted)
}

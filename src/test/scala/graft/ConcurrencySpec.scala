package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.mdl._
import graft.planner.TableResolver

/** Concurrent multi-tenant correctness: deployments with a SAME-NAMED model and a
  * SAME-NAMED macro over DIFFERENT sources and macro bodies, all deployed on one
  * caller SparkSession. Each deployment resolves names in its own cloned session,
  * so tenants analyze in parallel with no shared namespace to swap: each must see
  * only its own rows and its own macro, and one tenant's analysis must never wait
  * for another's. Each iteration uses distinct SQL text so the plan cache cannot
  * mask the name lookup.
  */
class ConcurrencySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private object ViewResolver extends TableResolver {
    override def resolve(spark: org.apache.spark.sql.SparkSession, ref: TableReference)
        : org.apache.spark.sql.DataFrame = spark.table(ref.table)
  }

  private def manifestOver(src: String, macroFactor: Int = 1): Manifest = Manifest(
    catalog = "graft", schema = "cc",
    models = List(Model("cc_shared",
      tableReference = Some(TableReference(table = src)),
      primaryKey = Some("id"),
      columns = List(Column("id", "int"), Column("v", "int")))),
    macros = List(Macro("cc_fn", s"(x: int) => x * $macroFactor")))

  test("interleaved sessions never serve each other's data") {
    import spark.implicits._
    val tenants = 4
    // tenant k: rows v = i + 1000k, macro cc_fn(x) = x * (k + 2)
    val sessions = (0 until tenants).map { k =>
      (1 to 64).map(i => (i, i + 1000 * k)).toDF("id", "v")
        .createOrReplaceTempView(s"cc_src_$k")
      GraftEngine.deploy(spark, manifestOver(s"cc_src_$k", k + 2), ViewResolver)
    }
    val expectRows = (0 until tenants).map(k => (1 to 64).map(_ + 1000L * k).sum)
    val expectMacro = (0 until tenants).map(k => expectRows(k) * (k + 2))

    val threads = 8
    val iters = 12
    val pool = Executors.newFixedThreadPool(threads)
    val start = new CountDownLatch(1)
    val failures = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val tasks = (0 until threads).map { t =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          for (i <- 0 until iters) {
            val k = (t + i) % tenants
            // distinct SQL text per (thread, iter) → always a fresh analysis
            val sql = s"SELECT sum(v) + $t + $i - $t - $i AS s, sum(cc_fn(v)) AS m FROM cc_shared"
            val r = Try { val row = sessions(k).query(sql).collect().head; (row.getLong(0), row.getLong(1)) }
            if (r.toOption != Some((expectRows(k), expectMacro(k))))
              failures.add(s"t$t i$i tenant $k: got $r, want ${(expectRows(k), expectMacro(k))}")
          }
        }
      })
    }
    start.countDown()
    tasks.foreach(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    val bad = new mutable.ArrayBuffer[String]
    failures.forEach(f => { bad += f; () })
    assert(bad.isEmpty, bad.take(10).mkString("\n"))
  }

  test("one tenant's blocked analysis does not hold up another tenant") {
    import spark.implicits._
    (1 to 8).map(i => (i, i)).toDF("id", "v").createOrReplaceTempView("cc_wait_a")
    (1 to 8).map(i => (i, 100 + i)).toDF("id", "v").createOrReplaceTempView("cc_wait_b")
    // a caller function whose builder blocks: tenant A's analysis stalls inside it
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    Bridge.registerFunction(spark, "cc_block", args => {
      entered.countDown()
      release.await(60, TimeUnit.SECONDS)
      args.head
    })
    val sessA = GraftEngine.deploy(spark, manifestOver("cc_wait_a"), ViewResolver)
    val sessB = GraftEngine.deploy(spark, manifestOver("cc_wait_b"), ViewResolver)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val a = pool.submit(new Callable[Long] {
        override def call(): Long =
          sessA.query("SELECT sum(cc_block(v)) AS s FROM cc_shared").collect().head.getLong(0)
      })
      assert(entered.await(60, TimeUnit.SECONDS), "tenant A's analysis never reached the function")
      val b = pool.submit(new Callable[Long] {
        override def call(): Long =
          sessB.query("SELECT sum(v) AS s FROM cc_shared WHERE id > 0").collect().head.getLong(0)
      })
      val bWhileABlocked = Try(b.get(20, TimeUnit.SECONDS))
      release.countDown()
      assert(bWhileABlocked.toOption.contains((1 to 8).map(100L + _).sum),
        s"tenant B did not finish while tenant A was mid-analysis: $bWhileABlocked")
      assert(a.get(60, TimeUnit.SECONDS) == (1 to 8).sum.toLong)
    } finally {
      release.countDown()
      pool.shutdown()
    }
  }
}

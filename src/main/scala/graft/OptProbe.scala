package graft

import graft.operators.Relational
import org.apache.spark.graftglue.Bus
import org.apache.spark.sql.functions._

/** Stage-by-stage cost probes for the heavy paths (ad-hoc; not part of
  * the driver contract). Usage: runMain graft.OptProbe [sfDir] [probe],
  * probe one of linkage, triangles, kernelbench, jobcount, aqeplan,
  * explain, nest, interp, obscheck. */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val which = args.drop(1).headOption.getOrElse("linkage")
    val spark = Sessions.local()
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROBE $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    which match {
      case "linkage" =>
        val recs = Tables.table(spark, dir, "customer").withColumn("ident",
          concat(col("c_name"), lit("|"), col("c_mktsegment"),
            col("c_nationkey").cast("string")))
        val base = recs.select(col("c_custkey").cast("long").as("id"),
          col("ident").as("s"))
        val names = base.select(col("s")).distinct()
        val keys = names.select(col("s"),
          explode(graft.functions.expressions
            .deletionNeighborhoodHashed(col("s"), 2)).as("k"))
          .hint("shuffle_merge")
        // warmups then stages
        for (i <- 1 to 2) {
          time(s"[$i] keys explode only")(noop(keys))
          val namePairs = keys.as("a").join(keys.as("b"),
              col("a.k") === col("b.k") && col("a.s") < col("b.s"))
            .select(col("a.s").as("s1"), col("b.s").as("s2"))
          time(s"[$i] key self-join (pre-distinct)")(noop(namePairs))
          val nd = namePairs.distinct()
          time(s"[$i] + distinct")(noop(nd))
          val verified = nd.withColumn("dist",
              levenshtein(col("s1"), col("s2"), 2).cast("long"))
            .filter(col("dist") >= 1L)
          time(s"[$i] + verify")(noop(verified))
          time(s"[$i] full query")(noop(
            SparkEntry.queries("q_record_linkage_del2")(spark, dir)))
        }
      case "triangles" =>
        val li = Tables.table(spark, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val e = li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        for (i <- 1 to 2) {
          time(s"[$i] edges")(noop(e))
          val und = e.filter(col("src") =!= col("dst"))
            .select(least(col("src"), col("dst")).as("lo"),
              greatest(col("src"), col("dst")).as("hi")).distinct()
          time(s"[$i] und distinct")(noop(und))
          val deg = und.select(col("lo").as("n")).unionAll(und.select(col("hi").as("n")))
            .groupBy("n").agg(count(lit(1)).as("d"))
          val loFirst = col("d_lo") < col("d_hi") ||
            (col("d_lo") === col("d_hi") && col("lo") < col("hi"))
          val oriented = und
            .join(deg.select(col("n").as("lo"), col("d").as("d_lo")), "lo")
            .join(deg.select(col("n").as("hi"), col("d").as("d_hi")), "hi")
            .select(
              when(loFirst, col("lo")).otherwise(col("hi")).as("src"),
              when(loFirst, col("hi")).otherwise(col("lo")).as("dst"),
              when(loFirst, col("d_hi")).otherwise(col("d_lo")).as("d_dst"))
          time(s"[$i] oriented")(noop(oriented))
          val x = oriented.select(col("src"), col("dst").as("v"), col("d_dst").as("dv"))
          val y = oriented.select(col("src"), col("dst").as("w"), col("d_dst").as("dw"))
          val wedges = x.join(y, Seq("src"))
            .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
          time(s"[$i] wedges")(noop(wedges))
          time(s"[$i] full")(noop(SparkEntry.queries("q_triangles")(spark, dir)))
        }
      case "kernelbench" =>
        // r20: single-threaded wall clock of the FastSS key kernel over
        // the real distinct compare strings — isolates kernel CPU from
        // join/shuffle noise for the rewrite A/B
        val recs = Tables.table(spark, dir, "customer").withColumn("ident",
          concat(col("c_name"), lit("|"), col("c_mktsegment"),
            col("c_nationkey").cast("string")))
        val names = recs.select(col("ident")).distinct()
          .collect().map(_.getString(0))
        println(s"PROBE names: ${names.length}")
        for (i <- 1 to 6) {
          val t0 = System.nanoTime()
          var acc = 0L
          names.foreach { s =>
            acc += graft.functions.HashOps.deletionNeighborhoodHashedK(
              org.apache.spark.unsafe.types.UTF8String.fromString(s), 2)
              .numElements()
          }
          println(f"PROBE kernel pass $i: ${(System.nanoTime() - t0) / 1e6}%.1f ms (keys=$acc)")
        }
      case "jobcount" =>
        // r20: count Spark jobs a named query submits end-to-end (the
        // evidence for action-count claims — e.g. the applyCdc guard
        // fusion — which never show in the RESULT's plan). Usage:
        //   runMain graft.OptProbe <sfDir> jobcount <query> [query...]
        val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(
                js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
              jobs.incrementAndGet(): Unit
            }
          })
        args.drop(2).foreach { q =>
          noop(SparkEntry.queries(q)(spark, dir)) // warm (JIT, scratch bootstrap)
          Bus.drain(spark.sparkContext)
          val before = jobs.get()
          noop(SparkEntry.queries(q)(spark, dir))
          Bus.drain(spark.sparkContext)
          println(s"PROBE jobcount $q: ${jobs.get() - before} jobs")
        }
      case "aqeplan" =>
        // print the AQE FINAL plan (post-execution) of EVERY execution a
        // named query runs, with its ReusedExchange count — `explain`
        // shows only the initial plan, exchange reuse materializes at
        // runtime, and for an iterative operator the returned
        // DataFrame's plan is only a scan of its result snapshot: the
        // round joins run in the write executions before it. The plan
        // with the most exchanges is printed in full. Usage:
        //   runMain graft.OptProbe <sfDir> aqeplan <query>
        val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
            plans.add(qe.executedPlan.toString): Unit
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
        })
        args.drop(2).foreach { q =>
          Bus.drain(spark.sparkContext)
          plans.clear()
          SparkEntry.queries(q)(spark, dir).collect(): Unit
          Bus.drain(spark.sparkContext)
          val all = plans.toArray(Array.empty[String]).toSeq
          def n(pat: String, plan: String) = pat.r.findAllIn(plan).length
          all.zipWithIndex.foreach { case (plan, i) =>
            println(s"PROBE aqeplan $q exec $i: ReusedExchange=${n("ReusedExchange", plan)} " +
              s"Exchange=${n("Exchange", plan)} scans=${n("Scan parquet", plan)}")
          }
          println(s"PROBE aqeplan $q: ${all.size} executions, " +
            s"ReusedExchange=${all.map(n("ReusedExchange", _)).sum}")
          all.maxByOption(n("Exchange", _)).foreach(println)
        }
      case "explain" =>
        // the formatted physical plan of the named queries (all when
        // none is named), to audit pushdown, broadcast and shuffle
        // shape. Usage: runMain graft.OptProbe <sfDir> explain [query...]
        val names =
          if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
        names.foreach { q =>
          println(s"\n===== $q =====")
          SparkEntry.queries(q)(spark, dir).explain("formatted")
        }
      case "nest" =>
        // nest with and without the child sort, against the shipped
        // q_nested_denorm. Usage: runMain graft.OptProbe <sfDir> nest
        val customer = Tables.table(spark, dir, "customer")
        val items = Relational.innerJoinMerge(Tables.table(spark, dir, "orders"),
          Tables.table(spark, dir, "lineitem"), "o_orderkey", "l_orderkey")
        time("nest-unsorted") {
          noop(customer.join(
            items.groupBy(col("o_custkey").as("k"))
              .agg(collect_list(struct(items.columns.map(col).toIndexedSeq: _*)).as("arr")),
            col("c_custkey") === col("k"), "left"))
        }
        time("nest-sorted") {
          noop(Relational.nest(customer, items, "c_custkey", "o_custkey", "order_items",
            sortChildBy = Seq("o_orderkey", "l_linenumber")))
        }
        time("q_nested_denorm") {
          noop(SparkEntry.queries("q_nested_denorm")(spark, dir))
        }
      case "interp" =>
        // B84 interpolate stage costs: the daily rollup alone, the spine
        // join without windows, and the shipped operator (running +
        // unbounded-following frames). Usage: runMain graft.OptProbe <sfDir> interp
        val nation = Tables.table(spark, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))
        val daily = Tables.table(spark, dir, "orders").select(col("o_custkey"),
            datediff(to_date(col("o_orderdate")), to_date(lit("1992-01-01")))
              .cast("long").as("d"),
            round(col("o_totalprice") * 100, 0).cast("long").as("rev_cents"))
          .join(broadcast(Tables.table(spark, dir, "customer")
              .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name", "d").agg(sum("rev_cents").as("rev_cents"))
        time("interp: daily rollup only")(noop(daily))
        val span = daily.groupBy("n_name")
          .agg(min("d").as("p0"), max("d").as("p1"))
          .select(col("n_name"), explode(sequence(col("p0"), col("p1"))).as("d"))
        time("interp: spine + left join, no windows") {
          noop(span.join(daily, Seq("n_name", "d"), "left"))
        }
        time("interp: shipped linearFill") {
          noop(graft.operators.Interpolate.linearFill(daily, Seq("n_name"), "d", "rev_cents"))
        }
      case "obscheck" =>
        // does an Observation fire on a localCheckpoint materialization?
        val df = spark.range(1000).toDF("x")
        val obs = org.apache.spark.sql.Observation()
        val ck = df.observe(obs, count(lit(1)).as("n")).localCheckpoint()
        println("checkpointed rows=" + ck.count())
        val got = try scala.concurrent.Await.result(scala.concurrent.Future(obs.get)(scala.concurrent.ExecutionContext.global), scala.concurrent.duration.Duration(10, "s")) catch { case _: java.util.concurrent.TimeoutException => Map("TIMEOUT" -> true) }
        println("OBS RESULT: " + got)
      case _ => ()
    }
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.Dedup
import graft.functions.Text

/** Dev-only (round 17 optimization): per-stage timing of the heavy
  * query pipelines plus candidate plan variants, consumed through the
  * noop sink (guide §1.4 — every column of every row computed, no
  * count-prune, no sink cost). Run: `sbt "runMain graft.tools.OptProf <mode>"`.
  */
object OptProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", s"${2 * 1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val mode = if (args.nonEmpty) args(0) else "ngram"

    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time[T](name: String)(f: => T): T = {
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime(); val r = f
      println(f"[optprof] $name%-44s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      spark.sparkContext.setJobDescription(null)
      r
    }
    // repeat-min: strip first-use codegen/JIT like Bench's min-of-runs
    def timeMin(name: String, runs: Int = 3)(f: => Unit): Unit = {
      val samples = (1 to runs).map { _ =>
        sweep()
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"[optprof] $name%-44s min ${samples.min}%8.3f s  med ${samples.sorted.apply(runs / 2)}%8.3f s")
    }

    mode match {
      case "ngram" =>
        val docs = Tables.documents(spark, sfDir)
        val shRaw0 = time("shingle relation (ckpt)") {
          docs.select(col("doc_id").as("id"),
            explode(Dedup.shingleSet(3)(Text.tokens(col("text")))).as("sh_str"))
            .select(col("id"), xxhash64(col("sh_str")).as("sh"))
            .localCheckpoint(eager = true)
        }
        println("  shRaw rows = " + time("shRaw count")(shRaw0.count()))
        val hot = shRaw0.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") > 1000L).select("sh")
        println("  hot rows = " + time("hot census")(hot.count()))
        val sh = time("anti-join + ckpt") {
          shRaw0.join(broadcast(hot), Seq("sh"), "left_anti")
            .localCheckpoint(eager = true)
        }
        val sizes = sh.groupBy("id").agg(count(lit(1)).as("set_size"))
        time("sizes noop")(noop(sizes))
        val common = sh.as("a").join(sh.as("b"), Seq("sh"))
          .filter(col("a.id") < col("b.id"))
          .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
          .agg(count(lit(1)).as("common"))
        time("self-join common noop")(noop(common))
        timeMin("q_dedup_ngram full")(noop(
          graft.Queries.q_dedup_ngram(spark, sfDir)))
        timeMin("q_dedup_cluster full")(noop(
          graft.Queries.q_dedup_cluster(spark, sfDir)))
        timeMin("q_containment full")(noop(
          graft.Queries.q_containment(spark, sfDir)))
      case "unpivot" =>
        timeMin("q_unpivot current")(noop(
          graft.Queries.q_unpivot(spark, sfDir)))
        // variant: pin the stacked relation before the contract sort —
        // the sort's range-sampling pass otherwise re-runs scan+stack
        timeMin("q_unpivot ckpt-before-sort") {
          noop(Tables.lineitem(spark, sfDir)
            .select(col("l_orderkey"), col("l_linenumber"),
              expr("""stack(3,
                'quantity', round(l_quantity, 2),
                'extendedprice', round(l_extendedprice, 2),
                'discount', round(l_discount, 4)) AS (measure, val)"""))
            .localCheckpoint(eager = true)
            .orderBy("l_orderkey", "l_linenumber", "measure"))
        }
        // variant: fanOut the scan first so stack + checkpoint + the
        // sort's map side all run on 32 partitions instead of 1
        timeMin("q_unpivot fanout+ckpt") {
          noop(Dedup.fanOut(Tables.lineitem(spark, sfDir)
              .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
                col("l_extendedprice"), col("l_discount")), col("l_orderkey"))
            .select(col("l_orderkey"), col("l_linenumber"),
              expr("""stack(3,
                'quantity', round(l_quantity, 2),
                'extendedprice', round(l_extendedprice, 2),
                'discount', round(l_discount, 4)) AS (measure, val)"""))
            .localCheckpoint(eager = true)
            .orderBy("l_orderkey", "l_linenumber", "measure"))
        }
        timeMin("q_unpivot fanout-nockpt") {
          noop(Dedup.fanOut(Tables.lineitem(spark, sfDir)
              .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
                col("l_extendedprice"), col("l_discount")), col("l_orderkey"))
            .select(col("l_orderkey"), col("l_linenumber"),
              expr("""stack(3,
                'quantity', round(l_quantity, 2),
                'extendedprice', round(l_extendedprice, 2),
                'discount', round(l_discount, 4)) AS (measure, val)"""))
            .orderBy("l_orderkey", "l_linenumber", "measure"))
        }
        // variant: global sort on the NARROW input, then stack in
        // alphabetical measure order — same rows, same global order,
        // sort carries 1/3 of the rows (guide §2.3 shuffle fewer bytes)
        timeMin("q_unpivot sort-then-stack") {
          noop(Tables.lineitem(spark, sfDir)
            .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
              col("l_extendedprice"), col("l_discount"))
            .orderBy("l_orderkey", "l_linenumber")
            .select(col("l_orderkey"), col("l_linenumber"),
              expr("""stack(3,
                'discount', round(l_discount, 4),
                'extendedprice', round(l_extendedprice, 2),
                'quantity', round(l_quantity, 2)) AS (measure, val)""")))
        }
      case "jaro" =>
        // each sample rebuilds its own checkpoint (sweep() drops blocks)
        def pCkpt() = Tables.part(spark, sfDir)
          .select(col("p_partkey"), col("p_name"), col("p_brand"))
          .localCheckpoint(eager = true)
        def namesOf(p: DataFrame) =
          p.select(col("p_brand"), col("p_name")).distinct()
        def scoredOf(names: DataFrame) =
          names.select(col("p_brand"), col("p_name").as("__n_a"))
            .join(names.select(col("p_brand"), col("p_name").as("__n_b")),
              Seq("p_brand"))
            .withColumn("jw", round(graft.functions.StringFns.jaroWinkler(
              col("__n_a"), col("__n_b")), 6))
            .filter(col("jw") > 0.8)
        println("  distinct names = " + namesOf(pCkpt()).count())
        println("  scored rows = " + scoredOf(namesOf(pCkpt())).count())
        timeMin("ckpt+names+scored noop")(noop(scoredOf(namesOf(pCkpt()))))
        timeMin("scored unrounded-gate noop") {
          val names = namesOf(pCkpt())
          noop(names.select(col("p_brand"), col("p_name").as("__n_a"))
            .join(names.select(col("p_brand"), col("p_name").as("__n_b")),
              Seq("p_brand"))
            .withColumn("jw0", graft.functions.StringFns.jaroWinkler(
              col("__n_a"), col("__n_b")))
            .filter(col("jw0") > 0.795)
            .withColumn("jw", round(col("jw0"), 6))
            .filter(col("jw") > 0.8))
        }
        timeMin("q_jaro_match full")(noop(
          graft.Queries.q_jaro_match(spark, sfDir)))
        // variant: fanOut probe side + materialized (pinned) dictionary
        timeMin("jaro fanout+pinned-scored") {
          val p = graft.operators.Dedup.fanOut(
              Tables.part(spark, sfDir)
                .select(col("p_partkey"), col("p_name"), col("p_brand")),
              col("p_partkey"))
            .localCheckpoint(eager = true)
          val scored = scoredOf(namesOf(p)).localCheckpoint(eager = true)
          val pa = p.select(col("p_brand"), col("p_partkey").as("id_a"),
            col("p_name").as("__n_a"))
          val pb = p.select(col("p_brand"), col("p_partkey").as("id_b"),
            col("p_name").as("__n_b"))
          noop(pa.join(broadcast(scored), Seq("p_brand", "__n_a"))
            .join(broadcast(pb), Seq("p_brand", "__n_b"))
            .filter(col("id_a") < col("id_b"))
            .select("id_a", "id_b", "jw")
            .orderBy("id_a", "id_b"))
        }
      case "basket" =>
        timeMin("q_basket_affinity current")(noop(
          graft.Queries.q_basket_affinity(spark, sfDir)))
        // variant: per-order pair generation via groupBy+collect_list
        // (one exchange on ok) instead of the self-join (two exchange
        // sides + join)
        timeMin("basket collect_list variant") {
          val items = Tables.lineitem(spark, sfDir)
            .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
            .distinct()
            .localCheckpoint(eager = true)
          val nOrders = items.agg(countDistinct(col("ok")).as("n_orders"))
          val supp = items.groupBy("pk").agg(count(lit(1)).as("n_pk"))
          val pairs = items.groupBy("ok")
            .agg(sort_array(collect_list(col("pk"))).as("pks"))
            .select(explode(expr(
              """flatten(transform(pks, (x, i) ->
                   transform(slice(pks, i + 2, size(pks)), y ->
                     struct(x AS part_a, y AS part_b))))""")).as("pr"))
            .select(col("pr.part_a"), col("pr.part_b"))
            .groupBy("part_a", "part_b")
            .agg(count(lit(1)).as("n_both"))
            .filter(col("n_both") >= 3)
          noop(pairs
            .join(supp.select(col("pk").as("part_a"), col("n_pk").as("n_pk_a")), Seq("part_a"))
            .join(supp.select(col("pk").as("part_b"), col("n_pk").as("n_pk_b")), Seq("part_b"))
            .crossJoin(broadcast(nOrders))
            .select(col("part_a"), col("part_b"), col("n_both"),
              round(col("n_both").cast("double") * col("n_orders") /
                (col("n_pk_a") * col("n_pk_b")), 6).as("lift"))
            .orderBy(desc("lift"), col("part_a"), col("part_b")))
        }
      case "jobs" =>
        // per-job wall breakdown of one query: warm it twice, then run a
        // third time with a listener that records each job's duration and
        // its first stage's name
        import org.apache.spark.scheduler._
        args.drop(1).foreach { id =>
          val fn = graft.Queries.all.toMap.apply(id)
          noop(fn(spark, sfDir)); sweep(); noop(fn(spark, sfDir)); sweep()
          val jobs = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, String)]
          val starts = scala.collection.mutable.Map.empty[Int, (Long, String)]
          val stages = scala.collection.mutable.ArrayBuffer.empty[String]
          val listener = new SparkListener {
            override def onJobStart(j: SparkListenerJobStart): Unit =
              starts(j.jobId) = (System.nanoTime(),
                j.stageInfos.headOption.map(_.name).getOrElse("?"))
            override def onJobEnd(j: SparkListenerJobEnd): Unit =
              starts.get(j.jobId).foreach { case (t0, n) =>
                jobs += ((j.jobId, System.nanoTime() - t0, n)) }
            override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
              val si = s.stageInfo
              val wall = (for {a <- si.completionTime; b <- si.submissionTime}
                yield (a - b) / 1000.0).getOrElse(-1.0)
              val run = si.taskMetrics.executorRunTime / 1000.0
              stages += f"stage ${si.stageId}%3d wall $wall%7.3f s run $run%7.3f s tasks ${si.numTasks}%3d  ${si.name.take(70)}"
            }
          }
          spark.sparkContext.addSparkListener(listener)
          val t0 = System.nanoTime()
          noop(fn(spark, sfDir))
          val wall = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300) // let the listener bus drain
          spark.sparkContext.removeSparkListener(listener)
          println(f"[optprof] $id total $wall%.3f s, ${jobs.size} jobs:")
          jobs.sortBy(_._1).foreach { case (jid, ns, n) =>
            println(f"[optprof]   job $jid%3d ${ns / 1e9}%7.3f s  ${n.take(90)}")
          }
          stages.foreach(s => println(s"[optprof]   $s"))
          sweep()
        }
      case "abconf" =>
        // interleaved same-session A/B of a runtime SQL conf:
        //   OptProf abconf <confKey> <valA> <valB> <id> [<id>...]
        // 4 alternating samples per config per id; min per config.
        val Array(key, va, vb) = args.slice(1, 4)
        args.drop(4).foreach { id =>
          val fn = graft.Queries.all.toMap.apply(id)
          noop(fn(spark, sfDir)); sweep() // warm codegen once
          val times = scala.collection.mutable.Map(va -> List.empty[Double],
            vb -> List.empty[Double])
          for (_ <- 1 to 4; v <- Seq(va, vb)) {
            spark.conf.set(key, v)
            val t0 = System.nanoTime()
            noop(fn(spark, sfDir))
            times(v) = ((System.nanoTime() - t0) / 1e9) :: times(v)
            sweep()
          }
          spark.conf.unset(key)
          println(f"[optprof] $id%-28s A=$va min ${times(va).min}%7.3f  B=$vb min ${times(vb).min}%7.3f")
        }
      case "abprop" =>
        // interleaved same-session A/B of ANY boolean sys-prop kill
        // switch (the abfan pattern, generalized): 5 alternating samples
        // per arm per id; min per arm. Usage: abprop <prop> <id> [...]
        require(args.length >= 3,
          "abprop needs <prop> <id> [<id>...]")
        val prop = args(1)
        val abpropIds = args.drop(2).map { id =>
          id -> graft.Queries.all.toMap.getOrElse(id,
            sys.error(s"abprop: unknown query id $id"))
        }
        // try/finally (ADVICE r17): an exception mid-loop must not leave
        // the kill switch set and poison same-session measurements
        try abpropIds.foreach { case (id, fn) =>
          // the previous id ended on the "off" arm: warm up unset
          sys.props.remove(prop)
          noop(fn(spark, sfDir)); sweep()
          val t = scala.collection.mutable.Map("on" -> List.empty[Double],
            "off" -> List.empty[Double])
          for (_ <- 1 to 5; arm <- Seq("on", "off")) {
            if (arm == "off") sys.props(prop) = "true"
            else sys.props.remove(prop)
            val t0 = System.nanoTime()
            noop(fn(spark, sfDir))
            t(arm) = ((System.nanoTime() - t0) / 1e9) :: t(arm)
            sweep()
          }
          println(f"[optprof] $id%-28s $prop unset min ${t("on").min}%7.3f  set(off) min ${t("off").min}%7.3f")
        } finally sys.props.remove(prop)
      case "abfan" =>
        // interleaved same-session A/B of the fanOut toggle: 5 alternating
        // samples per arm per id; min per arm
        args.drop(1).foreach { id =>
          val fn = graft.Queries.all.toMap.apply(id)
          noop(fn(spark, sfDir)); sweep()
          val t = scala.collection.mutable.Map("on" -> List.empty[Double],
            "off" -> List.empty[Double])
          for (_ <- 1 to 5; arm <- Seq("on", "off")) {
            if (arm == "off") sys.props("graft.fanout.off") = "true"
            else sys.props.remove("graft.fanout.off")
            val t0 = System.nanoTime()
            noop(fn(spark, sfDir))
            t(arm) = ((System.nanoTime() - t0) / 1e9) :: t(arm)
            sweep()
          }
          sys.props.remove("graft.fanout.off")
          println(f"[optprof] $id%-28s fanOut-ON min ${t("on").min}%7.3f  OFF min ${t("off").min}%7.3f")
        }
      case "grank" =>
        // A/B the globalRowNumber machinery for the q_rfm chain: the
        // profile shows ~0.2-0.33 s CONSTANT per task in every stage that
        // scans a createDataFrame(RDD[Row]) output (three such stages in
        // q_rfm at 5-10 CPU-s each) — candidate replacements: (B) eager
        // localCheckpoint of the numbered relation (pays the RDD-scan
        // once), (C) a pure-codegen monotonically_increasing_id offset
        // rank (no RDD hop at all).
        import graft.Queries
        def rfmBase() = {
          val o = Tables.orders(spark, sfDir)
          val ref = o.agg(max(col("o_orderdate")).as("ref_date"))
          o.groupBy("o_custkey")
            .agg(max(col("o_orderdate")).as("last_order"),
              count(lit(1)).as("frequency"),
              round(sum(col("o_totalprice")), 2).as("monetary"))
            .crossJoin(broadcast(ref))
            .select(col("o_custkey"),
              datediff(col("ref_date"), col("last_order")).cast("long").as("recency_days"),
              col("frequency"), col("monetary"))
            .localCheckpoint(true)
        }
        def midRank(df: DataFrame, sortCols: Seq[org.apache.spark.sql.Column],
                    rankCol: String): DataFrame = {
          val nPart = math.max(1, spark.sparkContext.defaultParallelism)
          val sorted = df.repartitionByRange(nPart, sortCols: _*)
            .sortWithinPartitions(sortCols: _*)
            .localCheckpoint(eager = true)
          val counts = sorted.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
            var n = 0L; while (it.hasNext) { it.next(); n += 1 }
            Iterator(pid -> n)
          }.collect().toMap
          var acc = 0L
          val offsets = (0 until nPart).map { p =>
            val o = acc; acc += counts.getOrElse(p, 0L); o
          }.toArray
          sorted.withColumn("__mid", monotonically_increasing_id())
            .withColumn(rankCol,
              element_at(typedLit(offsets),
                (shiftright(col("__mid"), 33) + 1).cast("int")) +
                col("__mid").bitwiseAND(lit((1L << 33) - 1)) + lit(1L))
            .drop("__mid")
        }
        def rfmWith(rank: (DataFrame, Seq[org.apache.spark.sql.Column], String) => DataFrame,
                    ckptAfter: Boolean): DataFrame = {
          val base = rfmBase()
          val n = base.agg(count(lit(1)).as("n_total"))
          def bucket(df: DataFrame, sort: Seq[org.apache.spark.sql.Column],
                     rankCol: String, out: String) = {
            val numbered0 = rank(df, sort, rankCol)
            val numbered = if (ckptAfter) numbered0.localCheckpoint(true) else numbered0
            numbered.crossJoin(broadcast(n))
              .withColumn(out,
                graft.operators.Analytics.ntileOfRank(col(rankCol), col("n_total"), 5))
              .drop(rankCol, "n_total")
          }
          val r = bucket(base, Seq(col("recency_days"), col("o_custkey")), "r_rank", "r_bucket")
          val f = bucket(r, Seq(desc("frequency"), col("o_custkey")), "f_rank", "f_bucket")
          val m = bucket(f, Seq(desc("monetary"), col("o_custkey")), "m_rank", "m_bucket")
          m.select("o_custkey", "recency_days", "frequency", "monetary",
              "r_bucket", "f_bucket", "m_bucket")
            .orderBy("o_custkey")
        }
        timeMin("rfm current")(noop(Queries.q_rfm(spark, sfDir)))
        timeMin("rfm ckpt-after-rank")(noop(
          rfmWith(graft.operators.Analytics.globalRowNumber(_, _, _), ckptAfter = true)))
        timeMin("rfm mid-trick")(noop(rfmWith(midRank, ckptAfter = false)))
        // parity: mid-trick output must equal the current implementation
        val cur = Queries.q_rfm(spark, sfDir).collect().map(_.toSeq)
        val mid = rfmWith(midRank, ckptAfter = false).collect().map(_.toSeq)
        println(s"[optprof] parity rows cur=${cur.length} mid=${mid.length} equal=${cur.sameElements(mid)}")
      case "degreefuse" =>
        // r18: one explode+agg+join instead of two agg trees + two joins
        timeMin("q_graph_degree current")(noop(
          graft.Queries.q_graph_degree(spark, sfDir)))
        timeMin("q_graph_degree fused") {
          val e = graft.Queries.nationTradeEdges(spark, sfDir)
            .localCheckpoint(true)
          val sides = e.select(explode(array(
              struct(col("src").as("nk"), col("wc"), col("n_lines"),
                lit(1L).as("is_out")),
              struct(col("dst").as("nk"), col("wc"), col("n_lines"),
                lit(0L).as("is_out")))).as("s"))
            .select(col("s.nk"), col("s.wc"), col("s.n_lines"), col("s.is_out"))
            .groupBy("nk")
            .agg(
              round(sum(when(col("is_out") === 1L, col("wc")).otherwise(lit(0L)))
                .cast("double") / lit(100.0), 2).as("out_w0"),
              sum(when(col("is_out") === 1L, col("n_lines")).otherwise(lit(0L)))
                .as("out_lines0"),
              round(sum(when(col("is_out") === 0L, col("wc")).otherwise(lit(0L)))
                .cast("double") / lit(100.0), 2).as("in_w0"),
              sum(when(col("is_out") === 0L, col("n_lines")).otherwise(lit(0L)))
                .as("in_lines0"),
              sum(col("is_out")).as("n_out"))
          noop(Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name"))
            .join(sides, col("n_nationkey") === col("nk"), "left")
            .select(col("n_name").as("nation"),
              coalesce(when(col("n_out") > 0, col("out_w0")), lit(0.0)).as("out_w"),
              coalesce(when(col("n_out") > 0, col("out_lines0")), lit(0L)).as("out_lines"),
              coalesce(when(col("n_out") < col("n_out") + 1, col("in_w0")), lit(0.0)).as("in_w"),
              coalesce(col("in_lines0"), lit(0L)).as("in_lines"))
            .orderBy("nation"))
        }
      case "graphlocal" =>
        // r18 experiment: the nation trade graph is <= 625 edges at ANY
        // SF (25 nations squared) — collect the edge build once
        // (bounded) into a LocalRelation and run the same downstream
        // operator over it, vs the current checkpoint-based callers
        import org.apache.spark.sql.Row
        import scala.jdk.CollectionConverters._
        def edgesLocal(): DataFrame = {
          val e = graft.Queries.nationTradeEdges(spark, sfDir)
          val rows = e.collect().toSeq // bounded: <= 625 nation pairs
          spark.createDataFrame(rows.asJava, e.schema)
        }
        timeMin("q_graph_degree current")(noop(
          graft.Queries.q_graph_degree(spark, sfDir)))
        timeMin("q_graph_degree local-edges") {
          val e = edgesLocal()
          val out = e.groupBy(col("src").as("nk_out"))
            .agg(round(sum(col("wc")).cast("double") / lit(100.0), 2).as("out_w"),
              sum(col("n_lines")).as("out_lines"))
          val inn = e.groupBy(col("dst").as("nk_in"))
            .agg(round(sum(col("wc")).cast("double") / lit(100.0), 2).as("in_w"),
              sum(col("n_lines")).as("in_lines"))
          noop(Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name"))
            .join(out, col("n_nationkey") === col("nk_out"), "left")
            .join(inn, col("n_nationkey") === col("nk_in"), "left")
            .select(col("n_name").as("nation"),
              coalesce(col("out_w"), lit(0.0)).as("out_w"),
              coalesce(col("out_lines"), lit(0L)).as("out_lines"),
              coalesce(col("in_w"), lit(0.0)).as("in_w"),
              coalesce(col("in_lines"), lit(0L)).as("in_lines"))
            .orderBy("nation"))
        }
        timeMin("q_pagerank current")(noop(
          graft.Queries.q_pagerank(spark, sfDir)))
        timeMin("q_pagerank local-edges") {
          val ranks = graft.operators.Graph.pagerank(edgesLocal(), "src", "dst", "wc")
          noop(ranks.join(
              broadcast(Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name"))),
              col("node") === col("n_nationkey"))
            .select(col("n_name").as("nation"), col("rank"))
            .orderBy(desc("rank"), col("nation")))
        }
        timeMin("q_graph_kcore current")(noop(
          graft.Queries.q_graph_kcore(spark, sfDir)))
        timeMin("q_graph_triangles current")(noop(
          graft.Queries.q_graph_triangles(spark, sfDir)))
        timeMin("q_graph_triangles local-edges") {
          noop(graft.operators.Graph.triangleCensus(edgesLocal(),
            "src", "dst", "wc"))
        }
      case "ids" =>
        // noop-timed run of specific ids passed after the mode
        args.drop(1).foreach { id =>
          val fn = graft.Queries.all.toMap.apply(id)
          timeMin(id)(noop(fn(spark, sfDir)))
        }
      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}

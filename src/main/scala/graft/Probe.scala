package graft

/** Dev diagnostic main: named one-off measurements over an sf dir, so
  * scale probes (edge volumes, candidate counts) are reproducible
  * commands instead of throwaway shell snippets. Usage:
  * `runMain graft.Probe <name> <sfDir>`; prints one `[probe]` line.
  */
object Probe {
  import Bench.median

  def main(args: Array[String]): Unit = {
    val what = args(0)
    val dir = args(1)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val line = what match {
      case "q140-thin-edges" =>
        s"thin_edges=${operators.TextOps.fuzzyMatchEdges(spark, dir).count()}"
      case "q140-full-pairs" =>
        s"full_pairs=${operators.TextOps.fuzzyJoin(spark, dir).count()}"
      case "ivf-sweep" =>
        // per-width eval wall time measured separately so the sweep line
        // carries both axes of the operating curve (recall, cost)
        val rows = Seq(1, 2, 4, 8, 10).map { p =>
          val w0 = System.nanoTime()
          val rec = operators.SimilarityOps.ivfSweep(spark, dir, Seq(p)).collect()
          val secs = (System.nanoTime() - w0) / 1e9
          val r10 = rec.find(_.getLong(1) == 10L).get
          f"nProbe=$p recall@1=${rec.find(_.getLong(1) == 1L).get.getDouble(3)}%.2f " +
            f"recall@10=${r10.getDouble(3)}%.2f scanned_frac=${r10.getDouble(5)}%.3f " +
            f"eval_secs=$secs%.1f"
        }
        rows.mkString("\n[probe] ")
      case "durability-price" =>
        // prices the reliable-checkpoint switch on the checkpoint-heaviest
        // queries (the CC family): median-of-3 per mode in one warm JVM,
        // local mode first so JIT warmup is charged to neither mode's
        // median. Reliable mode writes through target/ckpt-price.
        val qs =
          if (args.length > 2) args(2).split(",").toSeq
          else Seq("q140_entity_resolution", "q65_dup_clusters")
        def time(name: String): Double = {
          val t0i = System.nanoTime()
          operators.Registry.byName(name).run(spark, dir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0i) / 1e9
        }
        // modes ALTERNATE within each rep (L,R,L,R,L,R after one warmup
        // of each) — a back-to-back mode block would hand the second
        // mode all the JIT/page-cache warmup and fake a speedup
        def inMode(reliable: Boolean, f: => Double): Double = {
          spark.conf.set(Ckpt.ConfKey,
            if (reliable) new java.io.File("target/ckpt-price").getAbsolutePath
            else "")
          f
        }
        try {
          qs.map { q =>
            inMode(reliable = false, time(q)): Unit
            inMode(reliable = true, time(q)): Unit
            val samples = (1 to 3).map { _ =>
              (inMode(reliable = false, time(q)), inMode(reliable = true, time(q)))
            }
            val l = samples.map(_._1).sorted.apply(1)
            val r = samples.map(_._2).sorted.apply(1)
            f"$q local=$l%.1fs reliable=$r%.1fs ratio=${r / l}%.2f"
          }.mkString("\n[probe] ")
        } finally spark.conf.set(Ckpt.ConfKey, "")
      case "graph-bucketed" =>
        // prices the bucketed edge TABLE against the checkpoint path for
        // the iterative graph family: table build cost reported once
        // (paid ONCE per corpus, amortized over every iterative query),
        // then per-query wall with modes ALTERNATING per rep (the
        // durability-price discipline — neither mode inherits the
        // other's JIT/page-cache warmup). reps=1 default for the sf10
        // single-shot method; pass reps=3 at sf1.
        val qs =
          if (args.length > 2) args(2).split(",").toSeq
          else Seq("q167_bfs_reach", "q171_label_prop")
        val reps = if (args.length > 3) args(3).toInt else 1
        def timeQ(name: String): Double = {
          val t0i = System.nanoTime()
          operators.Registry.byName(name).run(spark, dir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0i) / 1e9
        }
        val whDir = new java.io.File("target/graph-edge-wh").getAbsolutePath
        val orderingConf = "spark.sql.legacy.bucketedTableScan.outputOrdering"
        // bucketed mode sets BOTH deployment confs (the operator no longer
        // mutates the session — r13 ADVICE); the try/finally guarantees a
        // mid-probe query failure can't leave the JVM pinned to the
        // bucketed table for whatever runs next (r13 ADVICE #3)
        def inMode(bucketed: Boolean, f: => Double): Double = {
          spark.conf.set(operators.GraphOps.EdgeTableConf,
            if (bucketed) whDir else "")
          spark.conf.set(orderingConf, bucketed.toString)
          f
        }
        try {
          val b0 = System.nanoTime()
          val edgeRows = operators.GraphOps
            .bucketedPurchaseEdges(spark, dir, whDir).count()
          val buildSecs = (System.nanoTime() - b0) / 1e9
          val lines = qs.map { q =>
            val samples = (1 to reps).map { _ =>
              (inMode(bucketed = false, timeQ(q)),
                inMode(bucketed = true, timeQ(q)))
            }
            val c = median(samples.map(_._1))
            val b = median(samples.map(_._2))
            // rep walls quoted so the median's provenance is in the line
            // itself (the r13 single-shot class problem — a median
            // without its reps can't be told from a lucky single)
            val detail = samples.map { case (cw, bw) =>
              f"$cw%.1f/$bw%.1f"
            }.mkString("[", ", ", "]")
            f"$q ckpt=$c%.1fs bucketed=$b%.1fs ratio=${b / c}%.2f reps(c/b)=$detail"
          }
          (f"edge_table_build=$buildSecs%.1fs edge_rows=$edgeRows" +: lines)
            .mkString("\n[probe] ")
        } finally {
          spark.conf.set(operators.GraphOps.EdgeTableConf, "")
          spark.conf.unset(orderingConf)
        }
      case "cc-bucketed" =>
        // prices the bucketed edge TABLE for the pointer-doubling CC
        // family (r13 verdict order 2) against the default persist path.
        // Same discipline as graph-bucketed: modes ALTERNATE per rep so
        // neither inherits the other's JIT/page-cache warmup; unlike the
        // graph table, the CC table is per-call (built + dropped inside
        // each query), so its build cost is INSIDE each bucketed timing —
        // the ratio reported is the honest end-to-end one.
        val qs =
          if (args.length > 2) args(2).split(",").toSeq
          else Seq("q65_dup_clusters", "q68_cluster_reps",
            "q140_entity_resolution")
        val reps = if (args.length > 3) args(3).toInt else 3
        def timeQ(name: String): Double = {
          val t0i = System.nanoTime()
          operators.Registry.byName(name).run(spark, dir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0i) / 1e9
        }
        val whDir = new java.io.File("target/cc-edge-wh").getAbsolutePath
        val orderingConf = "spark.sql.legacy.bucketedTableScan.outputOrdering"
        def inMode(bucketed: Boolean, f: => Double): Double = {
          spark.conf.set(operators.GraphOps.EdgeTableConf,
            if (bucketed) whDir else "")
          spark.conf.set(orderingConf, bucketed.toString)
          f
        }
        try {
          val lines = qs.map { q =>
            val samples = (1 to reps).map { _ =>
              (inMode(bucketed = false, timeQ(q)),
                inMode(bucketed = true, timeQ(q)))
            }
            val p = median(samples.map(_._1))
            val b = median(samples.map(_._2))
            val det = samples.map { case (x, y) => f"$x%.1f/$y%.1f" }
              .mkString(",")
            f"$q persist=$p%.1fs bucketed=$b%.1fs ratio=${b / p}%.2f reps[p/b]=$det"
          }
          lines.mkString("\n[probe] ")
        } finally {
          spark.conf.set(operators.GraphOps.EdgeTableConf, "")
          spark.conf.unset(orderingConf)
        }
      case "graph-stage-split" =>
        // decomposes the iterative family's wall: the shared edge-stream
        // build (fact⋈fact + distinct + symmetrize) vs each full query —
        // tells whether round work or the upstream build dominates at a
        // given SF before any round-shape surgery is attempted (guide
        // §1.2: fix the measured term, not the suspected one).
        import graft.Ckpt.GraftCheckpoint
        val reps = if (args.length > 2) args(2).toInt else 3
        def t(f: => Unit): Double = {
          val t0i = System.nanoTime(); f; (System.nanoTime() - t0i) / 1e9
        }
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        val raws = (1 to reps).map(_ =>
          t(noop(operators.GraphOps.rawPurchaseEdges(spark, dir))))
        val pubs = (1 to reps).map { _ =>
          t {
            val e = operators.GraphOps.rawPurchaseEdges(spark, dir).ckpt()
            noop(e.groupBy("src").count())
            graft.Ckpt.free(e)
          }
        }
        val fulls = Seq("q89_pagerank", "q167_bfs_reach", "q171_label_prop")
          .map { q =>
            val ws = (1 to reps).map(_ =>
              t(noop(operators.Registry.byName(q).run(spark, dir))))
            f"$q full=${median(ws)}%.2fs reps=${ws.map(w => f"$w%.2f").mkString(",")}"
          }
        (Seq(
          f"raw_edges_noop=${median(raws)}%.2fs reps=${raws.map(w => f"$w%.2f").mkString(",")}",
          f"edges_ckpt_plus_deg=${median(pubs)}%.2fs reps=${pubs.map(w => f"$w%.2f").mkString(",")}") ++
          fulls).mkString("\n[probe] ")
      case "q140-stage-split" =>
        // decomposes q140: PassJoin match edges (candidate gen + verify)
        // vs full query (edges + CC + canonicalization) — names which
        // half owns the wall before any surgery (guide §1.2).
        val reps = if (args.length > 2) args(2).toInt else 3
        def t(f: => Unit): Double = {
          val t0i = System.nanoTime(); f; (System.nanoTime() - t0i) / 1e9
        }
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        val edges = (1 to reps).map(_ =>
          t(noop(operators.TextOps.fuzzyMatchEdges(spark, dir))))
        val fulls = (1 to reps).map(_ =>
          t(noop(operators.Registry.byName("q140_entity_resolution")
            .run(spark, dir))))
        Seq(
          f"match_edges_noop=${median(edges)}%.2fs reps=${edges.map(w => f"$w%.2f").mkString(",")}",
          f"q140_full=${median(fulls)}%.2fs reps=${fulls.map(w => f"$w%.2f").mkString(",")}")
          .mkString("\n[probe] ")
      case "tables-build-price" =>
        // prices the per-call `spark.read.parquet` relation build (footer
        // schema read + file listing) that EVERY query invocation pays per
        // table it touches — measured before deciding whether a
        // session-scoped relation cache is worth having.
        val n = if (args.length > 2) args(2).toInt else 50
        def buildAll(): Unit = {
          val t = Tables(spark, dir)
          Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders,
            t.lineitem, t.documents, t.embeddings).foreach(_.schema)
        }
        buildAll() // warm FS/footer caches once, untimed
        val t0b = System.nanoTime()
        (1 to n).foreach(_ => buildAll())
        val per = (System.nanoTime() - t0b) / 1e9 / n
        f"tables_build_all9=${per * 1000}%.1fms/call (x$n reps, warm)"
      case "q192-digest-price" =>
        // prices q192's digest swap (r16 verdict order 8): md5 string
        // key vs (xxhash64, length) compound key, same plan otherwise.
        // Lanes ALTERNATE per rep (the durability-price discipline);
        // one warmup of each is untimed.
        val reps = if (args.length > 2) args(2).toInt else 3
        val docs = Tables(spark, dir).documents
        def lane(md5Lane: Boolean): Double = {
          val t0i = System.nanoTime()
          operators.DedupOps.dedupImpactOf(docs, md5Lane)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0i) / 1e9
        }
        lane(true): Unit
        lane(false): Unit
        val samples = (1 to reps).map(_ => (lane(true), lane(false)))
        val m = median(samples.map(_._1))
        val x = median(samples.map(_._2))
        val det = samples.map { case (a, b) => f"$a%.2f/$b%.2f" }
          .mkString(",")
        f"q192 md5=$m%.2fs xxhash=$x%.2fs ratio=${x / m}%.2f reps[md5/xx]=$det"
      case other => sys.error(s"unknown probe: $other")
    }
    println(f"[probe] $line dir=$dir secs=${(System.nanoTime() - t0) / 1e9}%.1f")
    spark.stop()
  }
}

package graft

import graft.sources.ScaledFixtures
import graft.text.TextDedup
import org.apache.spark.sql.DataFrame

import java.nio.file.Files

/** Scale-stress measurement main — wall-clock growth of the four
  * dedup/similarity/graph-family headliners on synthetic corpus growth
  * (disjoint-universe copies; [[ScaledFixtures]]). Prints ONE JSON line:
  * per-operator seconds at each k plus the fitted exponent
  * `ln(t_kmax / t_k1) / ln(kmax)` — 1.0 is perfectly linear scaling,
  * 2.0 quadratic. min-of-2 per point with a warmup at the smallest k,
  * the Bench discipline (this host has multi-second VM pauses).
  *
  * Exponents are REPORTED, not asserted: ScaleSpec owns the
  * deterministic invariants (per-cell caps, exact ×k output laws, plan
  * shapes); this main owns the timing evidence recorded in BENCH_NOTES.
  * Caveat for reading results at small corpora: per-query constant
  * costs (planning, task launch) deflate exponents; the candidate-count
  * laws in ScaleSpec are the load-bearing linearity proof.
  */
object ScaleProbe {

  private def time(body: => Long): (Double, Long) = {
    var best = Double.MaxValue
    var rows = 0L
    for (_ <- 1 to 2) {
      val t0 = System.nanoTime()
      rows = body
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    (best, rows)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val ks = if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(1, 5, 20)
    val spark = GraftSession.local("graft-scale-probe")
    val tmp = Files.createTempDirectory("graft-probe").toString

    // Materialize EVERY fixture before any clock starts: the builders
    // union/repartition/write parquet (Θ(k) with a big constant), and
    // timing that would pollute the operator exponents the probe exists
    // to measure. Timed runs read the pre-written parquet only.
    val docs = ks.map(k => k ->
      ScaledFixtures.scaledDocs(spark, sfDir, k, s"$tmp/docs$k")).toMap
    val names = ks.map(k => k ->
      ScaledFixtures.scaledNames(spark, sfDir, k, s"$tmp/names$k")).toMap
    val embs = ks.map(k => k ->
      ScaledFixtures.scaledEmbeddings(spark, sfDir, k, s"$tmp/emb$k")).toMap
    val edges = ks.map(k => k ->
      ScaledFixtures.scaledEdges(spark, sfDir, k, s"$tmp/edges$k")).toMap

    // Delta-merge fixtures: a node-grain table per k plus a 20% source
    // (half updates, half inserts at a disjoint key offset), both
    // materialized BEFORE any clock starts. Each timed run merges into
    // a FRESH shallow clone — identical work every run (min-of-2
    // stays honest), zero data copied per clone, and the probe
    // exercises clone + copy-on-write merge together.
    val mergeTables = ks.map { k =>
      import org.apache.spark.sql.functions.{count, lit}
      val nodes = edges(k).groupBy("src")
        .agg(count(lit(1)).as("deg")).withColumnRenamed("src", "node")
      val root = s"$tmp/dmerge$k"
      graft.lake.DeltaLog.commitFlat(spark, root, nodes)
      val srcPath = s"$tmp/dmsrc$k"
      nodes.where("node % 10 = 0")
        .selectExpr("node", "deg + 1000 AS deg")
        .unionByName(nodes.where("node % 10 = 1")
          .selectExpr("node + 1000000000 AS node", "deg"))
        .write.mode("overwrite").parquet(srcPath)
      k -> (root, srcPath)
    }.toMap
    var mergeRun = 0

    // Wide-delete fixtures: a node-grain table in 8·k files per k, so
    // the touched-file count scales with k. Each timed run deletes a
    // range touching EVERY file on a fresh shallow clone — the batched
    // copy-on-write path must hold one probe job + one rewrite job
    // regardless of file count (job count is spec-pinned in
    // DeltaDmlScaleSpec; this point records the wall-clock exponent).
    val deleteTables = ks.map { k =>
      import org.apache.spark.sql.functions.{count, lit}
      val nodes = edges(k).groupBy("src")
        .agg(count(lit(1)).as("deg")).withColumnRenamed("src", "node")
      val root = s"$tmp/dwdel$k"
      graft.lake.DeltaLog.commitFlat(spark, root,
        nodes.repartition(8 * k))
      k -> root
    }.toMap
    var delRun = 0

    // String-point-merge fixtures: a STRING-keyed table in 8·k files
    // with footer key blooms (hash layout — stats ranges all span the
    // key space, the bloom is what prunes) and a five-key point
    // source. The candidate set stays O(matching files) as k grows
    // (stats+bloom intersect; DeltaDmlScaleSpec pins the count), so
    // the wall-clock exponent should sit near ZERO — the 100 TB
    // point-upsert posture in one number.
    val strMergeTables = ks.map { k =>
      import org.apache.spark.sql.functions.{col, concat, count, lit}
      val nodes = edges(k).groupBy("src")
        .agg(count(lit(1)).as("deg")).withColumnRenamed("src", "node")
        .select(concat(lit("n-"), col("node").cast("string")).as("nid"),
          col("deg"))
      val root = s"$tmp/dsmerge$k"
      graft.lake.DeltaLog.commitFlat(spark, root, nodes.repartition(8 * k),
        writeOptions = graft.lake.DeltaLog.bloomOptions(Seq("nid")))
      val srcPath = s"$tmp/dssrc$k"
      nodes.orderBy(col("nid")).limit(5)
        .selectExpr("nid", "deg + 5000 AS deg")
        .write.mode("overwrite").parquet(srcPath)
      k -> (root, srcPath)
    }.toMap
    var strRun = 0

    // Vacuum-listing fixtures: 4·k partition directories (one active
    // file each) + 8 junk orphans strewn per directory — k=1 stays on
    // the driver-serial listing path, k≥3 crosses the distributed
    // threshold, so the exponent records how the per-directory
    // fan-out holds as file count grows. The timed op is the DRY RUN
    // (identical listing+filter work to a real vacuum, repeatable for
    // min-of-2; the delete half's semantics are spec-pinned).
    val vacuumTables = ks.map { k =>
      import org.apache.spark.sql.functions.{col, count, lit, pmod}
      val nodes = edges(k).groupBy("src")
        .agg(count(lit(1)).as("deg")).withColumnRenamed("src", "node")
        .withColumn("b", pmod(col("node"), lit(4 * k)))
      val root = s"$tmp/dvac$k"
      graft.lake.DeltaLog.commitPartitioned(spark, root,
        nodes.repartition(4 * k, col("b")), Seq("b"))
      (0 until 4 * k).foreach { i =>
        // an empty pmod bucket writes no partition directory — create
        // before strewing orphans or the probe dies on NoSuchFile
        val dir = java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(root, s"b=$i"))
        (0 until 8).foreach(j =>
          Files.write(dir.resolve(s"orphan-$j.parquet"), Array[Byte](9, 9)))
      }
      k -> root
    }.toMap

    val ops: Seq[(String, Int => DataFrame)] = Seq(
      "delta_vacuum_list" -> { k =>
        val orphans = graft.lake.DeltaLog.vacuumDryRun(
          spark, vacuumTables(k), 0L)
        spark.range(orphans.size.toLong).toDF("i")
      },
      "neardup_lsh" -> { k =>
        TextDedup.nearDupPairs(docs(k), "doc_id", "text")
      },
      "jaccard_prefix" -> { k =>
        TextDedup.jaccardNearDupPairsPrefix(docs(k),
          "doc_id", "text", shingleN = 2, threshold = 0.5)
      },
      "fuzzy_pairs" -> { k =>
        graft.text.Fuzzy.editDistancePairs(names(k), "c_custkey", "c_name")
      },
      "embedding_canonical" -> { k =>
        // threshold 0.8, not q108's 0.3: at d=64 random cross-copy
        // cosines are N(0, 1/8), so 0.3 admits ~0.8% of the k²·n²/2
        // cross pairs and the whole scaled corpus collapses into one
        // cluster — a property of the synthetic growth model, not the
        // operator. At 0.8 cross-copy edges are ~impossible and the
        // per-copy dup structure is what scales.
        graft.ml.Similarity.keepCanonical(embs(k),
          graft.ml.Similarity.cosineDupPairsBucketed(embs(k), 0.8))
      },
      "triangles" -> { k =>
        graft.graphs.Triangles.nodeTriangles(edges(k))
      },
      "pagerank" -> { k =>
        graft.graphs.PageRank.run(edges(k), iterations = 3)
      },
      "tfidf_cosine" -> { k =>
        graft.text.SparseSim.tfidfCosinePairs(docs(k), "doc_id", "text")
      },
      "label_prop" -> { k =>
        graft.graphs.LabelProp.run(edges(k), rounds = 3)
      },
      "kcore" -> { k =>
        graft.graphs.KCore.run(edges(k), k = 60, rounds = 3)
      },
      "bfs" -> { k =>
        val seeds = edges(k).selectExpr("src AS node")
          .where("node % 10000000 < 50").distinct()
        graft.graphs.Bfs.run(edges(k), seeds, rounds = 3)
      },
      // The two heavy r12 newcomers: winnowing is row-local (expect ~1.0
      // exponent — pure scan growth), weighted jaccard is the guarded
      // posting-list join family (q70's class).
      "winnow" -> { k =>
        TextDedup.winnowFingerprints(docs(k), "doc_id", "text")
      },
      "weighted_jaccard" -> { k =>
        TextDedup.weightedJaccardPairs(docs(k), "doc_id", "text",
          shingleN = 3, threshold = 0.3)
      },
      // r15 newcomers: hyperball merges edges·2^p registers per round
      // (never quadratic — expect the bfs/pagerank exponent class); the
      // bucketed-join point times the WHOLE write-then-join pipeline
      // (two clustering writes + exchange-free join), both ~linear.
      "hyperball" -> { k =>
        graft.graphs.HyperBall.neighborhoodSizes(edges(k), rounds = 2)
      },
      "scc" -> { k =>
        graft.graphs.Scc.run(edges(k))
      },
      // copy-on-write MERGE through the Delta log: 20% source into a
      // fresh zero-copy clone each run; work = one key-probe semi-join
      // + rewrites of the touched files + one insert file (~linear in
      // table size when sources touch all files, as here).
      "delta_merge" -> { k =>
        val (root, srcPath) = mergeTables(k)
        mergeRun += 1
        val clone = s"$tmp/dclone-$k-$mergeRun"
        graft.lake.DeltaLog.shallowClone(spark, root, clone)
        graft.lake.DeltaLog.mergeKey(spark, clone, "node",
          spark.read.parquet(srcPath))
        graft.lake.DeltaLog.read(spark, clone)
      },
      // wide DELETE across ALL 8·k files of a cloned table: O(1) Spark
      // jobs by construction (one probe + one rewrite), wall-clock
      // ~linear in table bytes.
      "delta_wide_delete" -> { k =>
        val root = deleteTables(k)
        delRun += 1
        val clone = s"$tmp/dwclone-$k-$delRun"
        graft.lake.DeltaLog.shallowClone(spark, root, clone)
        graft.lake.DeltaLog.deleteWhereLong(spark, clone, "node",
          0L, Long.MaxValue / 2)
        graft.lake.DeltaLog.read(spark, clone)
      },
      // STRING-key POINT merge: 5 keys into 8·k bloom-indexed files on
      // a fresh shallow clone each run — candidates prune to
      // O(matching) files before any data IO, so this point should be
      // ~flat in k.
      "delta_string_point_merge" -> { k =>
        val (root, srcPath) = strMergeTables(k)
        strRun += 1
        val clone = s"$tmp/dsclone-$k-$strRun"
        graft.lake.DeltaLog.shallowClone(spark, root, clone)
        graft.lake.DeltaLog.mergeKey(spark, clone, "nid",
          spark.read.parquet(srcPath))
        graft.lake.DeltaLog.read(spark, clone)
      },
      "bucketed_join" -> { k =>
        import org.apache.spark.sql.functions.{count, lit}
        val deg = edges(k).groupBy("src")
          .agg(count(lit(1)).as("deg"))
        graft.lake.Bucketing.writeBucketed(edges(k), s"probe_bkt_e$k",
          s"$tmp/bktA$k", "src", 16)
        graft.lake.Bucketing.writeBucketed(deg, s"probe_bkt_d$k",
          s"$tmp/bktB$k", "src", 16)
        graft.lake.Bucketing.bucketedJoin(spark,
          s"probe_bkt_e$k", s"probe_bkt_d$k", "src")
      })

    val results = ops.map { case (name, build) =>
      // warmup at the smallest k (JIT + codegen), then timed points
      build(ks.head).count()
      spark.catalog.clearCache()
      val points = ks.map { k =>
        val (sec, rows) = time {
          val n = build(k).count()
          spark.catalog.clearCache()
          n
        }
        (k, sec, rows)
      }
      val exp = math.log(points.last._2 / points.head._2) /
        math.log(ks.last.toDouble / ks.head)
      (name, points, exp)
    }

    val json = results.map { case (name, points, exp) =>
      val pts = points.map { case (k, s, rows) =>
        s""""k$k":{"sec":${f"$s%.3f"},"rows":$rows}""" }.mkString(",")
      s""""$name":{$pts,"exponent":${f"$exp%.2f"}}"""
    }.mkString("{", ",", s""","ks":[${ks.mkString(",")}],"sf":"$sfDir"}""")
    // println is the contract (Bench-style single JSON line)
    println(json)
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Ad-hoc stage profiler: times named sub-plans of the heavier queries so
  * optimization targets are measured, not guessed.
  * Usage: tools/run.sh graft.tools.Profile <sfDir> [filter-substring]
  */
object Profile {
  def time(name: String, thunk: => Long): Unit = {
    val t0 = System.nanoTime()
    val n = thunk
    println(f"[profile] $name%-40s ${(System.nanoTime() - t0) / 1e9}%8.2fs  rows=$n")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val only = args.drop(1).headOption.getOrElse("")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // catalog-sized codegen compile cache — see Bench.scala
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "10000"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    import spark.implicits._

    val sections: Seq[(String, () => Unit)] = Seq(
      "q42" -> { () =>
        val parts = sys.env.getOrElse("SPARK_GRAFT_STATE_PARTS", "4")
        time(s"q42 stream join (state parts=$parts)",
          graft.streaming.Streaming.q42StreamStreamJoin(spark, sfDir).count())
        time(s"q42 again (warm, parts=$parts)",
          graft.streaming.Streaming.q42StreamStreamJoin(spark, sfDir).count())
      },
      "q239" -> { () =>
        import graft.functions.TextFunctions
        import org.apache.spark.sql.expressions.Window
        val docs = graft.engine.Tables.documents(spark, sfDir)
        val toks = TextFunctions.tokens($"text")
        val shingles = when(size(toks) >= 3,
          transform(sequence(lit(1), size(toks) - 2), i =>
            concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
              element_at(toks, i + 2))))
          .otherwise(array().cast("array<string>"))
        val sh = docs.select($"doc_id", explode(shingles).as("sh"))
          .distinct().localCheckpoint()
        time("sh build+ckpt", sh.count())
        val freq = sh.groupBy($"sh").agg(count(lit(1)).as("df")).localCheckpoint()
        time("freq", freq.count())
        val docSets = sh.groupBy($"doc_id")
          .agg(sort_array(collect_set($"sh")).as("set")).localCheckpoint()
        time("docSets", docSets.count())
        val probes = docs.filter($"doc_id" % 101 === 0)
          .select($"doc_id".as("probe_id"), toks.as("tk"))
          .select($"probe_id", sort_array(array_distinct(slice(
            when(size($"tk") >= 3,
              transform(sequence(lit(1), size($"tk") - 2), i =>
                concat_ws(" ", element_at($"tk", i), element_at($"tk", i + 1),
                  element_at($"tk", i + 2))))
              .otherwise(array().cast("array<string>")), 1, 5))).as("qset"))
          .filter(size($"qset") > 0)
          .withColumn("qsize", size($"qset").cast("long"))
        time("probes", probes.count())
        val probeKeys = probes
          .select($"probe_id", $"qsize", $"qset", explode($"qset").as("sh"))
          .join(freq, "sh")
          .withColumn("rk", row_number().over(
            Window.partitionBy($"probe_id").orderBy($"df", $"sh")))
          .filter($"rk" === 1)
          .select($"sh", $"probe_id", $"qsize", $"qset")
        time("probeKeys", probeKeys.count())
        val cand = sh.join(broadcast(probeKeys), "sh")
          .select($"probe_id", $"qsize", $"qset", $"doc_id")
        time("cand", cand.count())
        val verified = cand.join(docSets, "doc_id")
          .withColumn("n_common",
            graft.functions.VectorExpressions.sorted_intersect_count(
              $"qset", $"set"))
          .filter($"n_common" === $"qsize")
        time("verify", verified.count())
        time("full q239", graft.engine.Dedup.q239ContainmentJoin(spark, sfDir).count())
        time("full q239 again", graft.engine.Dedup.q239ContainmentJoin(spark, sfDir).count())
      },
      "minhash" -> { () =>
        import graft.functions.TextFunctions
        val docs = graft.engine.Tables.documents(spark, sfDir)
        val toks = TextFunctions.tokens($"text")
        val shingles = when(size(toks) >= 3,
          transform(sequence(lit(1), size(toks) - 2), i =>
            concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))
          .otherwise(array().cast("array<string>"))
        time("scan only", docs.count())
        time("explode shingles", docs.select($"doc_id", explode(shingles).as("sh")).count())
        val hashed = docs.select($"doc_id", explode(shingles).as("sh"))
          .select($"doc_id", md5($"sh").as("h"))
        time("explode + md5", hashed.count())
        time("sig agg", hashed
          .groupBy($"doc_id")
          .agg(min(substring($"h", 1, 8)), min(substring($"h", 9, 8)),
            min(substring($"h", 17, 8)), min(substring($"h", 25, 8))).count())
        time("full q21", graft.engine.Dedup.q21MinhashLsh(spark, sfDir).count())
      },
      "stream" -> { () =>
        time("q27 window", graft.streaming.Streaming.q27StreamWindow(spark, sfDir).count())
        time("q27 again", graft.streaming.Streaming.q27StreamWindow(spark, sfDir).count())
        time("q28 dedup", graft.streaming.Streaming.q28StreamDedup(spark, sfDir).count())
        time("batch window equiv", graft.engine.Tables.events(spark, sfDir)
          .groupBy(date_trunc("hour", $"ts"), $"event_type").count().count())
      },
      "q42" -> { () =>
        for (parts <- Seq("32", "8", "4")) {
          spark.conf.set("spark.sql.shuffle.partitions", parts)
          time(s"q42 parts=$parts", graft.streaming.Streaming.q42StreamStreamJoin(spark, sfDir).count())
          time(s"q47 parts=$parts", graft.streaming.Streaming.q47DedupWatermark(spark, sfDir).count())
        }
        spark.conf.set("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      },
      "q63" -> { () =>
        import java.nio.file.Files
        val out = Files.createTempDirectory("prof-ingest-").toString
        time("runIngest (stream sink)",
          { graft.streaming.Streaming.runIngest(spark, sfDir, out,
              partitionCols = Seq("date")); 0L })
        val files = Option(new java.io.File(out).listFiles())
          .getOrElse(Array.empty).flatMap(d =>
            Option(d.listFiles()).getOrElse(Array.empty)).length
        println(s"[profile] sink files: $files")
        time("read-back agg", spark.read.parquet(out)
          .groupBy($"date", $"hour")
          .agg(count(lit(1)), countDistinct($"key")).count())
        graft.engine.TempIo.deleteRecursively(out)
        time("full q63", graft.streaming.Streaming.q63IngestRoundtrip(spark, sfDir).count())
        time("full q63 again", graft.streaming.Streaming.q63IngestRoundtrip(spark, sfDir).count())
      },
      "simjoin" -> { () =>
        locally {
          import graft.functions.TextFunctions
          import org.apache.spark.sql.expressions.Window
          val docs = graft.engine.Tables.documents(spark, sfDir)
          val toks = TextFunctions.tokens($"text")
          val shingles = when(size(toks) >= 3,
            transform(sequence(lit(1), size(toks) - 2), i =>
              concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))
            .otherwise(array().cast("array<string>"))
          val sh = docs.select($"doc_id", explode(shingles).as("sh")).distinct().localCheckpoint()
          time("sh distinct+ckpt", sh.count())
          val freq = sh.groupBy($"sh").agg(count(lit(1)).as("df"))
          val byDoc = Window.partitionBy($"doc_id")
          val ordered = sh.join(freq, "sh")
            .withColumn("pos", row_number().over(byDoc.orderBy($"df", $"sh")))
            .withColumn("sz", count(lit(1)).over(byDoc))
          val prefix = ordered.filter($"pos" <= $"sz" / 2 + 1)
            .select($"doc_id", $"sh", $"sz").localCheckpoint()
          time("prefix build+ckpt", prefix.count())
          val cand = prefix.as("a").join(prefix.as("b"),
              $"a.sh" === $"b.sh" && $"a.doc_id" < $"b.doc_id" &&
                least($"a.sz", $"b.sz") * 2 >= greatest($"a.sz", $"b.sz"))
            .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
              $"a.sz".as("sz_a"), $"b.sz".as("sz_b"))
          time("cand pairs raw", cand.count())
          val candD = cand.distinct()
          time("cand pairs distinct", candD.count())
          val candC = candD.localCheckpoint()
          time("candD ckpt", candC.count())
          val docSets = sh.groupBy($"doc_id").agg(collect_set($"sh").as("set")).localCheckpoint()
          time("docSets build+ckpt", docSets.count())
          val inter = candC
            .join(broadcast(docSets.select($"doc_id".as("doc_a"), $"set".as("set_a"))), "doc_a")
            .join(broadcast(docSets.select($"doc_id".as("doc_b"), $"set".as("set_b"))), "doc_b")
            .withColumn("n_common", size(array_intersect($"set_a", $"set_b")).cast("long"))
            .filter($"n_common" * 3 >= $"sz_a" + $"sz_b")
          time("verify intersect", inter.count())
          time("verify intersect again", inter.count())
          val docSetsH = sh.select($"doc_id", xxhash64($"sh").as("h"))
            .groupBy($"doc_id").agg(sort_array(collect_set($"h")).as("set")).localCheckpoint()
          time("docSetsH build", docSetsH.count())
          val interH = candC
            .join(broadcast(docSetsH.select($"doc_id".as("doc_a"), $"set".as("set_a"))), "doc_a")
            .join(broadcast(docSetsH.select($"doc_id".as("doc_b"), $"set".as("set_b"))), "doc_b")
            .withColumn("n_common", size(array_intersect($"set_a", $"set_b")).cast("long"))
            .filter($"n_common" * 3 >= $"sz_a" + $"sz_b")
          time("verify intersect hashed", interH.count())
          time("verify intersect hashed again", interH.count())
          val docSetsS = sh.groupBy($"doc_id").agg(sort_array(collect_set($"sh")).as("set")).localCheckpoint()
          time("docSetsS build", docSetsS.count())
          val interS = candC
            .join(broadcast(docSetsS.select($"doc_id".as("doc_a"), $"set".as("set_a"))), "doc_a")
            .join(broadcast(docSetsS.select($"doc_id".as("doc_b"), $"set".as("set_b"))), "doc_b")
            .withColumn("n_common", graft.functions.VectorExpressions.sorted_intersect_count($"set_a", $"set_b"))
            .filter($"n_common" * 3 >= $"sz_a" + $"sz_b")
          time("verify merge-count", interS.count())
          time("verify merge-count again", interS.count())
        }
        time("q102 prefix simjoin", graft.engine.Dedup.q102PrefixSimJoin(spark, sfDir).count())
        time("q102 again (warm)", graft.engine.Dedup.q102PrefixSimJoin(spark, sfDir).count())
        time("q24 topk", graft.engine.Similarity.q24CosineTopk(spark, sfDir).count())
        time("q26 neardup", graft.engine.Similarity.q26EmbeddingNearDup(spark, sfDir).count())
        time("q23 jaccard", graft.engine.Dedup.q23NgramJaccard(spark, sfDir).count())
        time("q19 fingerprint", graft.engine.TextQueries.q19Fingerprint(spark, sfDir).count())
      },
      "q302" -> { () =>
        val e0 = graft.engine.Tables.lineitem(spark, sfDir)
          .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
            $"l_shipdate" < lit("1996-02-01").cast("timestamp"))
          .select(($"l_suppkey" * 2).as("u"), ($"l_partkey" * 2 + 1).as("v"))
          .distinct()
        time("q302 edge build", e0.count())
        time("q302 full", graft.engine.GraphQueries
          .q302ConnectedComponents(spark, sfDir).count())
        time("q302 full again", graft.engine.GraphQueries
          .q302ConnectedComponents(spark, sfDir).count())
        time("q302 third", graft.engine.GraphQueries
          .q302ConnectedComponents(spark, sfDir).count())
      },
    )
    sections.filter(_._1.contains(only)).foreach { case (name, fn) =>
      println(s"== $name"); fn()
    }
    spark.stop()
  }
}

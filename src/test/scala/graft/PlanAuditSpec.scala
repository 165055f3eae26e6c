package graft

import graft.operators.{AsofJoin, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

/** Physical-plan audits: the scale claims in the scaladocs, asserted on the
  * EXECUTED plan — a shuffle count is a contract, not a hope. AQE is
  * disabled inside this suite so the plan tree is direct (the claims are
  * about plan shape, which AQE only re-partitions, never worsens).
  */
class PlanAuditSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def withoutAqe[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def shuffles(p: SparkPlan): Int = p.collect { case e: ShuffleExchangeExec => e }.size

  describe("plan shapes") {
    it("AsofJoin.backward is ONE shuffle — no range theta-join, no nested loop") {
      withoutAqe {
        val trades = Seq((1L, "A", 10L), (2L, "B", 20L)).toDF("tid", "sym", "t")
        val quotes = Seq((9L, "A", 9L)).toDF("qid", "sym", "t")
        val plan   = executed(AsofJoin.backward(trades, quotes, Seq("sym"), "t"))
        shuffles(plan) shouldBe 1
        plan.toString should not include "BroadcastNestedLoopJoin"
        plan.toString should not include "CartesianProduct"
      }
    }

    it("shardAssign is ONE shuffle (the shard window) — no global sort") {
      withoutAqe {
        val df   = spark.range(1, 1000).toDF("doc_id")
        val plan = executed(graft.operators.Sampling.shardAssign(df, "doc_id", numShards = 8, seed = 1))
        shuffles(plan) shouldBe 1
      }
    }

    it("packSequences is ONE shuffle (repartition by shard) + in-partition sort") {
      withoutAqe {
        val df = spark.range(1, 1000).toDF("doc_id")
          .withColumn("n_tokens", pmod(col("doc_id") * 37, lit(700)) + 1)
        val plan = executed(TextAnalysis.packSequences(df, "doc_id", "n_tokens", maxTokens = 512, numShards = 4))
        shuffles(plan) shouldBe 1
        // The sort must be partition-local (secondary sort), not global.
        plan.collect { case s: org.apache.spark.sql.execution.SortExec if s.global => s } shouldBe empty
      }
    }

    it("domainQuota (forced salted) is TWO shuffles (salted pre-cap window, then the domain window)") {
      withoutAqe {
        val df = spark.range(1, 1000).toDF("id")
          .withColumn("host", concat(lit("h"), pmod(col("id"), lit(5)).cast("string")))
        val plan = executed(TextAnalysis.domainQuota(df, "host", "id", maxPerDomain = 3,
          maxUnsaltedDomainRows = 0))
        shuffles(plan) shouldBe 2
      }
    }

    it("domainQuota skips the salt phase when the count probe finds no big domain (ONE shuffle)") {
      withoutAqe {
        val df = spark.range(1, 1000).toDF("id")
          .withColumn("host", concat(lit("h"), pmod(col("id"), lit(5)).cast("string")))
        val plan = executed(TextAnalysis.domainQuota(df, "host", "id", maxPerDomain = 3))
        shuffles(plan) shouldBe 1
      }
    }

    it("tokenBudgetPerDomain (probe path) is ONE shuffle; forced salted is TWO") {
      withoutAqe {
        val rows = spark.range(0, 300).toDF("id")
          .withColumn("dom", concat(lit("d"), pmod(col("id"), lit(5)).cast("string")))
          .withColumn("toks", pmod(col("id"), lit(40)) + 1)
        val probe = executed(TextAnalysis.tokenBudgetPerDomain(rows, "dom", "id", "toks", 200L))
        shuffles(probe) shouldBe 1
        val salted = executed(TextAnalysis.tokenBudgetPerDomain(rows, "dom", "id", "toks", 200L,
          maxUnsaltedDomainRows = 0))
        shuffles(salted) shouldBe 2
      }
    }

    it("dedupByCanonicalUrl is ONE shuffle (partial agg → exchange on the canonical key → final agg)") {
      withoutAqe {
        val df = spark.range(1, 2000).toDF("id")
          .withColumn("url", concat(lit("http://h"), pmod(col("id"), lit(9)).cast("string"), lit(".com/p?utm_source=x")))
        val plan = executed(TextAnalysis.dedupByCanonicalUrl(df, "url", "id"))
        shuffles(plan) shouldBe 1
      }
    }

    it("lmQualityScore has no cartesian product and no nested-loop join") {
      withoutAqe {
        val df = spark.range(1, 500).toDF("id")
          .withColumn("text", concat(lit("w"), pmod(col("id"), lit(17)).cast("string"),
            lit(" w"), pmod(col("id"), lit(13)).cast("string"),
            lit(" w"), pmod(col("id"), lit(11)).cast("string")))
        val plan = executed(TextAnalysis.lmQualityScore(df, "text", "id", nllThreshold = 5.0))
        plan.toString should not include "CartesianProduct"
        plan.toString should not include "BroadcastNestedLoopJoin"
      }
    }

    it("decontaminationOverlap broadcasts the benchmark side, never the corpus") {
      assume(new java.io.File(sfDir).isDirectory)
      withoutAqe {
        val docs  = Tpch.table(spark, sfDir, "documents")
        val plan = executed(
          TextAnalysis.decontaminationOverlap(
            docs.where(pmod(col("doc_id"), lit(50)) =!= 0),
            docs.where(pmod(col("doc_id"), lit(50)) === 0),
            "text", "doc_id", n = 3
          )
        )
        plan.collect { case b: BroadcastHashJoinExec => b } should not be empty
        plan.toString should not include "BroadcastNestedLoopJoin"
      }
    }

    it("incrementalDedup match stage is scan-local over the index — zero shuffles, zero joins") {
      withoutAqe {
        val mk = (lo: Long, hi: Long) => spark.range(lo, hi).toDF("doc_id")
          .withColumn("text", concat(lit("document body w"), pmod(col("doc_id"), lit(7)).cast("string"),
            lit(" tail "), col("doc_id").cast("string")))
        val index = graft.operators.Dedup.buildSignatureIndex(mk(0L, 200L), "text", "doc_id")
        val res   = graft.operators.Dedup.incrementalDedup(mk(200L, 230L), "text", "doc_id", index)
        val plan  = executed(res.matchedVsIndex)
        // Default (Auto, small batch) = the broadcast kernel: one
        // mapPartitions over the index scan — the index is never
        // exchanged and there is no join operator at all.
        shuffles(plan) shouldBe 0
        plan.toString should not include "Join"
        plan.toString should not include "CartesianProduct"
      }
    }

    it("decontaminationOverlapBloom is ZERO corpus-side shuffles (pure scan + broadcast filter)") {
      withoutAqe {
        val docs = spark.range(1, 500).toDF("id")
          .withColumn("text", concat(lit("w"), pmod(col("id"), lit(17)).cast("string"),
            lit(" w"), pmod(col("id"), lit(13)).cast("string"),
            lit(" w"), pmod(col("id"), lit(11)).cast("string")))
        val plan = executed(
          TextAnalysis.decontaminationOverlapBloom(
            docs.where(pmod(col("id"), lit(50)) =!= 0),
            docs.where(pmod(col("id"), lit(50)) === 0),
            "text", "id", n = 2
          )
        )
        // The Bloom filter is built on the driver BEFORE this plan runs;
        // the returned frame is scan → project → filter, nothing else.
        shuffles(plan) shouldBe 0
        plan.toString should not include "Join"
      }
    }

    it("dedupRepeatedLines: hash-keyed shuffles only, no cartesian, partial counts map-side") {
      withoutAqe {
        val docs = spark.range(1, 500).toDF("id")
          .withColumn("text", concat(
            lit("HEADER\nbody "), col("id").cast("string"), lit("\nFOOTER")))
        val plan = executed(TextAnalysis.dedupRepeatedLines(docs, "text", "id"))
        plan.toString should not include "CartesianProduct"
        plan.toString should not include "BroadcastNestedLoopJoin"
        // Hot-line count aggregates partially before its exchange
        // (map-side combine on the md5 key).
        val aggs = plan.collect { case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a }
        aggs should not be empty
      }
    }

    it("filter and projection reach the parquet scan (pushdown + pruning)") {
      assume(new java.io.File(sfDir).isDirectory)
      withoutAqe {
        val df = Tpch.table(spark, sfDir, "customer")
          .where("c_acctbal > 5000 AND c_mktsegment = 'BUILDING'")
          .select("c_custkey", "c_name", "c_acctbal")
        val s = executed(df).toString
        s should include("PushedFilters")
        s should include("GreaterThan(c_acctbal")
        s should include("EqualTo(c_mktsegme") // toString truncates the filter list
        // Column pruning: the scan schema carries only what the query needs.
        s should include("c_custkey")
        s should not include "c_phone" // untouched columns never leave the scan
      }
    }

    it("DSIR importanceScore is scan-local: zero shuffles, zero joins, no UDF") {
      assume(new java.io.File(sfDir).isDirectory)
      withoutAqe {
        import graft.operators.Sampling
        val docs  = Tpch.table(spark, sfDir, "documents")
        val model = Sampling.importanceModel(docs, "text", col("lang") === "en")
        // The serving plan: score every doc against the literal-array model.
        val scored = docs.select(col("doc_id"),
          Sampling.importanceScore(model, col("text")).as("weight_fp"))
        val p = executed(scored)
        shuffles(p) shouldBe 0
        p.toString should not include "Join"
        p.toString should not include "BatchEvalPython"
        p.collect { case b: org.apache.spark.sql.execution.python.ArrowEvalPythonExec => b } shouldBe empty
      }
    }

    it("mmrRerank reuses the query_id partitioning: window + groupBy share ONE exchange per side") {
      withoutAqe {
        import graft.operators.Similarity
        val df = Seq.tabulate(40) { i =>
          (i.toLong, Array.tabulate(4)(d => ((i * 7 + d * 3) % 5 + 1).toFloat))
        }.toDF("vec_id", "embedding")
        val out = Similarity.mmrRerank(df, df.where("vec_id < 3"), "vec_id", "embedding",
          poolK = 8, selectK = 3)
        // Pool window partitions by query_id; the greedy's groupBy(query_id)
        // hashes on the same key — Catalyst must NOT insert a second
        // exchange between them. Expected: the scored-join's exchanges plus
        // exactly one query_id exchange (2 total with a broadcast join, 3
        // if both join sides shuffle) — the budget pins "no extra shuffle
        // for the greedy", the claim in the scaladoc.
        shuffles(executed(out)) should be <= 3
      }
    }

    it("lengthBucketedBatches never plans a SinglePartition exchange (no global sort)") {
      withoutAqe {
        import graft.operators.Sampling
        val df = spark.range(0, 2000).toDF("id")
          .withColumn("len", pmod(col("id") * 37, lit(90)) + 1)
        val out = Sampling.lengthBucketedBatches(df, "id", "len", batchSize = 32, lenBuckets = 16)
        val p = executed(out)
        p.collect {
          case e: ShuffleExchangeExec
            if e.outputPartitioning == org.apache.spark.sql.catalyst.plans.physical.SinglePartition => e
        } shouldBe empty
      }
    }

    it("top-N compiles to TakeOrderedAndProject, not a global sort") {
      assume(new java.io.File(sfDir).isDirectory)
      withoutAqe {
        val df = Tpch.table(spark, sfDir, "orders")
          .select("o_orderkey", "o_totalprice")
          .orderBy(col("o_orderkey").desc)
          .limit(10)
        executed(df).toString should include("TakeOrderedAndProject")
      }
    }

    it("matchVsPersistedIndex probes a strict subset of the index's partitions") {
      withoutAqe {
        import graft.operators.Dedup
        val mk = (lo: Long, hi: Long) => spark.range(lo, hi).toDF("doc_id")
          .withColumn("text", concat(lit("document body w"), pmod(col("doc_id"), lit(7)).cast("string"),
            lit(" tail "), col("doc_id").cast("string")))
        val tmp = java.nio.file.Files.createTempDirectory("sigidx_prune_").toString
        try {
          Dedup.persistSignatureIndex(
            Dedup.buildSignatureIndex(mk(0L, 400L), "text", "doc_id"), tmp, keyBuckets = 64)
          // The full index spreads over many buckets…
          val allBuckets = spark.read.parquet(tmp).select("bucket").distinct().count()
          allBuckets should be > 8L
          // …but a SINGLE-doc probe touches at most bands (=8) of them:
          // the bucket isin-filter prunes at planning time, so the
          // executed scan reads a strict subset of partition directories.
          val probe = Dedup.matchVsPersistedIndex(mk(400L, 401L), "text", "doc_id", tmp,
            estThreshold = 0.0)
          val plan  = executed(probe)
          val scans = plan.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec
                if f.relation.location.rootPaths.exists(_.toString.contains("sigidx_prune_")) &&
                  !f.relation.location.rootPaths.exists(_.toString.contains("_graft_index_meta")) => f
          }
          scans should not be empty
          scans.foreach { f =>
            f.selectedPartitions.partitionCount should be <= 8
            f.selectedPartitions.partitionCount.toLong should be < allBuckets
          }
          // And the probe still finds real matches (the near-identical
          // mk-texts collide across the split).
          probe.count() should be > 0L
        } finally {
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); ()
          }
          rm(new java.io.File(tmp))
        }
      }
    }

    it("probe pruning SURVIVES a manifest-carried compact: every union branch keeps its partition filter") {
      withoutAqe {
        import graft.operators.{Dedup, IndexStore}
        // After a selective compact, the index serves through the
        // generation MANIFEST: rewritten buckets live in the new
        // generation, carried ones in their donor (here: flat-era) dirs,
        // and a probe reads a UNION of per-donor scans. The substrate's
        // perf claim is that planning-time bucket pruning pushes into
        // EVERY branch — a probe must still read ≤ bands partition dirs
        // in total, not re-scan either side of the manifest.
        val mk = (lo: Long, hi: Long) => spark.range(lo, hi).toDF("doc_id")
          .withColumn("text", concat(lit("document body w"), pmod(col("doc_id"), lit(7)).cast("string"),
            lit(" tail "), col("doc_id").cast("string")))
        val tmp = java.nio.file.Files.createTempDirectory("sigidx_mprune_").toString
        try {
          Dedup.persistSignatureIndex(
            Dedup.buildSignatureIndex(mk(0L, 400L), "text", "doc_id"), tmp, keyBuckets = 64)
          // Small purge → selective compact → manifest with BOTH kinds of
          // entries (rewritten + carried).
          Dedup.deleteFromPersistedIndex(Seq(7L).toDF("doc_id"), "doc_id", tmp)
          Dedup.compactSignatureIndex(spark, tmp)
          val dd = IndexStore.dataDir(spark, tmp)
          val m  = IndexStore.readManifest(spark, dd).get
          val genName = new java.io.File(dd).getName
          m.exists(_.dir.startsWith(genName + "/")) shouldBe true  // rewritten
          m.exists(!_.dir.startsWith(genName + "/")) shouldBe true // carried
          val allBuckets = IndexStore.readRel(spark, dd, "", "bucket")
            .select("bucket").distinct().count()
          allBuckets should be > 8L
          val probe = Dedup.matchVsPersistedIndex(mk(400L, 401L), "text", "doc_id", tmp,
            estThreshold = 0.0)
          val plan = executed(probe)
          val scans = plan.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec
                if f.relation.location.rootPaths.exists(_.toString.contains("sigidx_mprune_")) &&
                  !f.relation.location.rootPaths.exists(_.toString.contains("_graft_index_meta")) => f
          }
          scans.size should be >= 2 // one branch per donor location
          // TOTAL partitions read across all branches ≤ bands — the isin
          // filter pruned inside every branch, carried and rewritten alike.
          scans.map(_.selectedPartitions.partitionCount).sum should be <= 8
          probe.count() should be > 0L
        } finally {
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); ()
          }
          rm(new java.io.File(tmp))
        }
      }
    }

    it("persisted-index round trip: loadSignatureIndex ≡ buildSignatureIndex; probe ≡ in-memory match") {
      import graft.operators.Dedup
      val mk = (lo: Long, hi: Long) => spark.range(lo, hi).toDF("doc_id")
        .withColumn("text", concat(lit("document body w"), pmod(col("doc_id"), lit(7)).cast("string"),
          lit(" tail "), col("doc_id").cast("string")))
      val tmp = java.nio.file.Files.createTempDirectory("sigidx_rt_").toString
      try {
        val compact = Dedup.buildSignatureIndex(mk(0L, 200L), "text", "doc_id")
        Dedup.persistSignatureIndex(compact, tmp)
        // Round trip recovers the compact index exactly.
        val reloaded = Dedup.loadSignatureIndex(spark, tmp)
        reloaded.count() shouldBe compact.count()
        reloaded.exceptAll(compact).count() shouldBe 0L
        // The pruned disk probe and the in-memory kernel agree row-for-row.
        val viaDisk = Dedup.matchVsPersistedIndex(mk(200L, 230L), "text", "doc_id", tmp)
          .select("doc_id", "matched_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val viaMem = Dedup.incrementalDedup(mk(200L, 230L), "text", "doc_id", compact)
          .matchedVsIndex
          .select("doc_id", "matched_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        viaDisk shouldBe viaMem
        viaMem should not be empty
        // Append write-back: survivors join the index without a rewrite.
        Dedup.persistSignatureIndex(
          Dedup.buildSignatureIndex(mk(200L, 230L), "text", "doc_id"), tmp, append = true)
        Dedup.loadSignatureIndex(spark, tmp).count() shouldBe 230L
      } finally {
        def rm(p: java.io.File): Unit = {
          Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); ()
        }
        rm(new java.io.File(tmp))
      }
    }

    it("tombstone deletes: probe and reload drop deleted ids; accumulate; rebuild clears") {
      import graft.operators.Dedup
      val mk = (lo: Long, hi: Long) => spark.range(lo, hi).toDF("doc_id")
        .withColumn("text", concat(lit("document body w"), pmod(col("doc_id"), lit(7)).cast("string"),
          lit(" tail "), col("doc_id").cast("string")))
      val tmp = java.nio.file.Files.createTempDirectory("sigidx_del_").toString
      try {
        Dedup.persistSignatureIndex(Dedup.buildSignatureIndex(mk(0L, 200L), "text", "doc_id"), tmp)
        val before = Dedup.matchVsPersistedIndex(mk(200L, 230L), "text", "doc_id", tmp)
          .select("matched_id").as[Long].collect().toSet
        before should not be empty
        val victims = before.take(2)
        Dedup.deleteFromPersistedIndex(victims.toSeq.toDF("doc_id"), "doc_id", tmp)
        val after = Dedup.matchVsPersistedIndex(mk(200L, 230L), "text", "doc_id", tmp)
          .select("matched_id").as[Long].collect().toSet
        after shouldBe (before -- victims) // deleted gone, everything else untouched
        // Reload honors tombstones too; deletes accumulate across calls.
        Dedup.loadSignatureIndex(spark, tmp).count() shouldBe (200L - victims.size)
        Dedup.deleteFromPersistedIndex(Seq(0L).toDF("doc_id"), "doc_id", tmp)
        Dedup.loadSignatureIndex(spark, tmp).count() shouldBe (200L - victims.size - 1)
        // A full rebuild (overwrite persist of the surviving docs) is the
        // compaction path — it clears the tombstone set.
        Dedup.persistSignatureIndex(
          Dedup.buildSignatureIndex(mk(0L, 50L), "text", "doc_id"), tmp)
        Dedup.indexTombstones(spark, tmp) shouldBe None
        Dedup.loadSignatureIndex(spark, tmp).count() shouldBe 50L
      } finally {
        def rm(p: java.io.File): Unit = {
          Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); ()
        }
        rm(new java.io.File(tmp))
      }
    }

    it("fingerprint index: pruned probe ≡ brute-force Hamming pairs; append; tombstones; strict partition subset") {
      withoutAqe {
        import graft.operators.Dedup
        // 63-bit fingerprints with planted near-twins: doc i and i+1000
        // differ in ≤ 2 low bits; unrelated docs differ widely.
        val mkFp = (lo: Long, hi: Long, flip: Boolean) => {
          val base = spark.range(lo, hi).toDF("doc_id")
            .withColumn("fp", abs(xxhash64(col("doc_id"))).bitwiseAND(lit((1L << 62) - 1)))
          if (flip)
            base.select((col("doc_id") + 1000L).as("doc_id"),
              col("fp").bitwiseXOR(pmod(col("doc_id"), lit(4L))).as("fp"))
          else base
        }
        val tmp = java.nio.file.Files.createTempDirectory("fpidx_").toString
        try {
          val olds = mkFp(0L, 200L, false)
          Dedup.persistFingerprintIndex(olds, "doc_id", "fp", tmp, maxHamming = 2, fpBits = 63)
          val allBuckets = spark.read.parquet(tmp).select("bucket").distinct().count()
          allBuckets should be > 3L
          val probes = mkFp(0L, 50L, true)
          // Probe ≡ brute force (cross join popcount) — banding loses nothing.
          val got = Dedup.matchVsFingerprintIndex(probes, "doc_id", "fp", tmp)
            .select("doc_id", "matched_id").as[(Long, Long)].collect().toSet
          val want = probes.toDF("pid", "pfp").crossJoin(olds.toDF("oid", "ofp"))
            .where(bit_count(col("pfp").bitwiseXOR(col("ofp"))) <= 2)
            .select("pid", "oid").as[(Long, Long)].collect().toSet
          got shouldBe want
          want should not be empty
          // A SINGLE-fingerprint probe plans at most bands (=3) partitions.
          val one  = Dedup.matchVsFingerprintIndex(probes.where("doc_id = 1000"), "doc_id", "fp", tmp)
          val plan = executed(one)
          val scans = plan.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec
                if f.relation.location.rootPaths.exists(_.toString.contains("fpidx_")) &&
                  !f.relation.location.rootPaths.exists(_.toString.contains("_graft_fp_meta")) => f
          }
          scans should not be empty
          scans.foreach { f =>
            f.selectedPartitions.partitionCount should be <= 3
            f.selectedPartitions.partitionCount.toLong should be < allBuckets
          }
          // Append grows the index in place; mismatched geometry refuses.
          Dedup.persistFingerprintIndex(mkFp(200L, 230L, false), "doc_id", "fp", tmp,
            maxHamming = 2, fpBits = 63, append = true)
          spark.read.parquet(tmp).select("doc_id").distinct().count() shouldBe 230L
          an[IllegalArgumentException] should be thrownBy
            Dedup.persistFingerprintIndex(olds, "doc_id", "fp", tmp,
              maxHamming = 3, fpBits = 63, append = true)
          // Tombstoned ids vanish from probe results.
          val victim = want.head._2
          Dedup.deleteFromPersistedIndex(Seq(victim).toDF("doc_id"), "doc_id", tmp)
          val after = Dedup.matchVsFingerprintIndex(probes, "doc_id", "fp", tmp)
            .select("matched_id").as[Long].collect().toSet
          after should not contain victim
          (want.map(_._2) - victim).subsetOf(after) shouldBe true
        } finally {
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); ()
          }
          rm(new java.io.File(tmp))
        }
      }
    }

    it("jaccard index: pruned probe ≡ cross-split brute force; both reads prune; append; tombstones") {
      withoutAqe {
        import graft.operators.Dedup
        val rng = new scala.util.Random(11)
        val base = (0L until 79L).map { i =>
          (i, (0 until 10).map(_ => s"w${rng.nextInt(25)}").distinct.toArray)
        }
        val rows0Copy = base.head._2
        val rows = base :+ (79L -> rows0Copy)
        val df   = rows.toDF("doc_id", "elems")
        val even = df.where("doc_id % 2 = 0")
        val odd  = df.where("doc_id % 2 = 1")
        val tmp  = java.nio.file.Files.createTempDirectory("jidx_").toString
        try {
          Dedup.persistJaccardIndex(even, "elems", "doc_id", tmp, thresholdMilli = 300)
          // Probe ≡ brute force across the split (exact algorithm).
          val got = Dedup.matchVsJaccardIndex(odd, "elems", "doc_id", tmp)
            .select("doc_id", "matched_id", "inter").as[(Long, Long, Long)].collect().toSet
          val tok = df.select(col("doc_id"), explode(col("elems")).as("tok")).distinct()
          val sz  = tok.groupBy("doc_id").agg(count(lit(1)).as("s"))
          val brute = tok.toDF("p", "tok").join(tok.toDF("x", "tok"), Seq("tok"))
            .where(col("p") % 2 === 1 && col("x") % 2 === 0)
            .groupBy("p", "x").agg(count(lit(1)).as("o"))
            .join(sz.toDF("p", "sa"), Seq("p")).join(sz.toDF("x", "sb"), Seq("x"))
            .where(col("o") * 1300L >= lit(300L) * (col("sa") + col("sb")))
            .select("p", "x", "o").as[(Long, Long, Long)].collect().toSet
          got shouldBe brute
          // The planted twin (doc 79 = doc 0's set) is in there at J = 1.
          got.map(t => (t._1, t._2)) should contain((79L, 0L))
          // Single-doc probe: BOTH persisted reads plan strict partition
          // subsets — postings by the probe's prefix elements, fullsets by
          // the surviving candidates' doc ids.
          val allPost = spark.read.parquet(s"$tmp/postings").select("bucket").distinct().count()
          val allFull = spark.read.parquet(s"$tmp/fullsets").select("dbucket").distinct().count()
          val plan = executed(Dedup.matchVsJaccardIndex(df.where("doc_id = 79"), "elems", "doc_id", tmp))
          def scanOf(part: String) = plan.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec
                if f.relation.location.rootPaths.exists(_.toString.contains(s"jidx_")) &&
                  f.relation.location.rootPaths.exists(_.toString.contains(part)) => f
          }
          val post = scanOf("postings"); val full = scanOf("fullsets")
          post should not be empty
          full should not be empty
          post.foreach(_.selectedPartitions.partitionCount.toLong should be < allPost)
          full.foreach(_.selectedPartitions.partitionCount.toLong should be < allFull)
          // Append under the frozen order; geometry mismatch refuses.
          Dedup.persistJaccardIndex(
            Seq((200L, rows0Copy)).toDF("doc_id", "elems"), "elems", "doc_id", tmp,
            thresholdMilli = 300, append = true)
          Dedup.matchVsJaccardIndex(df.where("doc_id = 79"), "elems", "doc_id", tmp)
            .select("matched_id").as[Long].collect() should contain(200L)
          an[IllegalArgumentException] should be thrownBy
            Dedup.persistJaccardIndex(even, "elems", "doc_id", tmp, thresholdMilli = 400, append = true)
          // Tombstoned docs vanish from probe results.
          Dedup.deleteFromPersistedIndex(Seq(0L).toDF("doc_id"), "doc_id", tmp)
          Dedup.matchVsJaccardIndex(df.where("doc_id = 79"), "elems", "doc_id", tmp)
            .select("matched_id").as[Long].collect() should not contain 0L
        } finally {
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); ()
          }
          rm(new java.io.File(tmp))
        }
      }
    }

    it("jaccard STREAM serving (foreachBatch probe) plans strict partition subsets per micro-batch") {
      withoutAqe {
        import graft.operators.Dedup
        // 200-word vocabulary: random 10-element sets rarely share 30%
        // overlap, so a single probe's candidate set (and hence its
        // fullsets read) stays a strict partition subset by construction.
        val rng = new scala.util.Random(13)
        val rows = (0L until 80L).map { i =>
          (i, (0 until 10).map(_ => s"w${rng.nextInt(200)}").distinct.toArray)
        }
        val df  = rows.toDF("doc_id", "elems")
        val tmp = java.nio.file.Files.createTempDirectory("jidx_s_").toString
        try {
          Dedup.persistJaccardIndex(
            df.where("doc_id % 2 = 0"), "elems", "doc_id", tmp, thresholdMilli = 300)
          val allPost = spark.read.parquet(s"$tmp/postings").select("bucket").distinct().count()
          val allFull = spark.read.parquet(s"$tmp/fullsets").select("dbucket").distinct().count()
          // One probe doc per micro-batch (the serving steady state) — each
          // trigger's TWO pruned reads must plan strict partition subsets.
          val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
          val probes = df.where("doc_id IN (1, 3, 5)")
            .withColumn("ts", timestamp_millis(lit(1700000000000L) + col("doc_id") * 10L))
          val out = graft.streaming.StreamGates.replayViaForeachBatch(
            spark, probes, "ts", chunks = 3) { b =>
            val probe = Dedup.matchVsJaccardIndex(b.drop("ts"), "elems", "doc_id", tmp)
            executed(probe).foreach {
              case f: org.apache.spark.sql.execution.FileSourceScanExec
                  if f.relation.location.rootPaths.exists(_.toString.contains("jidx_s_")) =>
                val part =
                  if (f.relation.location.rootPaths.exists(_.toString.contains("postings"))) "postings"
                  else if (f.relation.location.rootPaths.exists(_.toString.contains("fullsets"))) "fullsets"
                  else "other"
                seen.add((part, f.selectedPartitions.partitionCount.toLong))
                ()
              case _ => ()
            }
            probe
          }
          // Streamed serving ≡ batch probe row-for-row (the gate's oracle shape).
          val batch = Dedup.matchVsJaccardIndex(
              df.where("doc_id IN (1, 3, 5)"), "elems", "doc_id", tmp)
            .select("doc_id", "matched_id").as[(Long, Long)].collect().toSet
          out.select("doc_id", "matched_id").as[(Long, Long)].collect().toSet shouldBe batch
          import scala.jdk.CollectionConverters._
          val cells = seen.asScala.toSeq
          withClue(s"recorded scans: $cells") {
            cells.count(_._1 == "postings") should be >= 3
            cells.count(_._1 == "fullsets") should be >= 3
            cells.filter(_._1 == "postings").foreach(_._2 should be < allPost)
            cells.filter(_._1 == "fullsets").foreach(_._2 should be < allFull)
          }
        } finally {
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); ()
          }
          rm(new java.io.File(tmp))
        }
      }
    }

    it("ivfTopKFromPersisted probes only its nprobe cells' partitions") {
      assume(new java.io.File(sfDir).isDirectory)
      withoutAqe {
        import graft.operators.{IvfPinned, Similarity}
        val emb = Tpch.table(spark, sfDir, "embeddings")
        val tmp = java.nio.file.Files.createTempDirectory("ivf_prune_").toString
        try {
          Similarity.persistIvfIndex(emb, "vec_id", "embedding", IvfPinned.centroids, tmp)
          val cells = spark.read.parquet(tmp).select("cell").distinct().count()
          cells should be > 4L
          // ONE query at nprobe=2: the pruned scan may plan at most 2 of
          // the populated cell partitions.
          val res = Similarity.ivfTopKFromPersisted(spark, tmp,
            emb.where("vec_id = 0"), "vec_id", "embedding", k = 5, nprobe = 2)
          val plan = executed(res)
          val scans = plan.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec
                if f.relation.location.rootPaths.exists(_.toString.contains("ivf_prune_")) &&
                  !f.relation.location.rootPaths.exists(_.toString.contains("_graft_centroids")) => f
          }
          scans should not be empty
          scans.foreach { f =>
            f.selectedPartitions.partitionCount should be <= 2
            f.selectedPartitions.partitionCount.toLong should be < cells
          }
          res.count() should be > 0L
        } finally {
          def rm(p: java.io.File): Unit = { Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); () }
          rm(new java.io.File(tmp))
        }
      }
    }

    it("bm25TopKFromPersisted reads only the query terms' postings buckets") {
      assume(new java.io.File(sfDir).isDirectory)
      withoutAqe {
        import graft.operators.TextAnalysis
        val docs = Tpch.table(spark, sfDir, "documents")
        val tmp  = java.nio.file.Files.createTempDirectory("bm25_prune_").toString
        try {
          TextAnalysis.persistBm25Index(TextAnalysis.buildBm25Index(docs, "text", "doc_id"), tmp)
          val buckets = spark.read.parquet(s"$tmp/postings").select("bucket").distinct().count()
          buckets should be > 2L
          // A ONE-term query touches exactly one bucket of postings/terms.
          val q = Seq((1L, "spark")).toDF("query_id", "q_text")
          val res  = TextAnalysis.bm25TopKFromPersisted(spark, tmp, q, "query_id", "q_text", k = 5)
          val plan = executed(res)
          val scans = plan.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec
                if f.relation.location.rootPaths.exists(p =>
                  p.toString.contains("bm25_prune_") &&
                    (p.toString.contains("postings") || p.toString.contains("terms"))) => f
          }
          scans should not be empty
          scans.foreach(_.selectedPartitions.partitionCount shouldBe 1)
          res.count() should be > 0L
        } finally {
          def rm(p: java.io.File): Unit = { Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); () }
          rm(new java.io.File(tmp))
        }
      }
    }

    it("semDeDup's pair stage is cell-keyed — no cartesian, no nested loop") {
      assume(new java.io.File(sfDir).isDirectory)
      withoutAqe {
        val emb  = Tpch.table(spark, sfDir, "embeddings")
        val plan = executed(graft.operators.Dedup.semDeDup(
          emb, "vec_id", "embedding", graft.operators.IvfPinned.centroids, threshold = 0.4))
        plan.toString should not include "CartesianProduct"
        plan.toString should not include "BroadcastNestedLoopJoin"
      }
    }

    it("exciseSharedSubstrings is THREE shuffles — gram countDistinct (2-phase) + one per-doc window") {
      withoutAqe {
        val docs = (1L to 60L).map(i =>
          (i, s"prefix-$i shared-boilerplate-block-${i % 3} suffix-$i")).toDF("doc_id", "text")
        val plan = executed(graft.operators.Dedup.exciseSharedSubstrings(docs, "text", "doc_id", k = 12))
        // 2 exchanges for the distinct-doc-count over grams, 1 for the
        // doc_id window; the island groupBy and span collect REUSE the
        // window's doc_id partitioning (no extra exchange — that reuse is
        // the point), and the dup-gram set rides a broadcast at this size.
        shuffles(plan) shouldBe 3
        plan.toString should not include "CartesianProduct"
        plan.toString should not include "BroadcastNestedLoopJoin"
      }
    }

    it("TopK.perKey is ONE shuffle with a partial aggregate BEFORE it — k-capped buffers cross the wire") {
      withoutAqe {
        val df = spark.range(1, 5000)
          .selectExpr("id % 40 AS k", "CAST(id % 97 AS DOUBLE) AS v", "id")
        val plan = executed(graft.operators.TopK.perKey(df, Seq("k"), "v", "id", k = 3))
        shuffles(plan) shouldBe 1
        val aggs = plan.collect {
          case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
        }
        // partial (map-side, pre-exchange) + final — the partial one is
        // what caps per-partition-per-key traffic at k entries.
        aggs.size shouldBe 2
        aggs.map(_.aggregateExpressions.head.mode.toString).toSet shouldBe Set("Partial", "Final")
      }
    }

    it("psiFromCountsKeyed joins its per-group totals by BROADCAST — counts never reshuffle") {
      withoutAqe {
        val counts = (0L until 2000L)
          .map(i => (i % 20, i % 16, i % 7, (i * 3) % 11))
          .toDF("win_us", "bin", "a_cnt", "b_cnt")
        val plan = executed(graft.operators.Profiler.psiFromCountsKeyed(counts, Seq("win_us"), 16))
        // Totals (one row per window) broadcast; the counts side joins
        // in place. The only exchange is the totals aggregation's own.
        plan.collect { case b: BroadcastHashJoinExec => b } should have size 1
        plan.toString should not include "SortMergeJoin"
      }
    }

    it("shuffleOrder never plans a single-partition sort — the global order is bucket-decomposed") {
      withoutAqe {
        val plan = executed(
          graft.operators.Sampling.shuffleOrder(spark.range(1, 2000).toDF("doc_id"), "doc_id", salt = "e:"))
        plan.toString should not include "SinglePartition"
        plan.toString should not include "rangepartitioning"
      }
    }

    it("RangeJoin.pointInInterval plans as an equi-join — no nested loop, no cartesian") {
      withoutAqe {
        val points = (1L to 500L).map(i => (i, "u" + (i % 20), i * 10L)).toDF("pid", "k", "p")
        val ivs    = (1L to 100L).map(i => (i, "u" + (i % 20), i * 40L, i * 40L + 100L)).toDF("iid", "k", "s", "e")
        val plan = executed(
          graft.operators.RangeJoin.pointInInterval(points, ivs, Seq("k"), "p", "s", "e", binWidth = 100L))
        plan.toString should not include "BroadcastNestedLoopJoin"
        plan.toString should not include "CartesianProduct"
      }
    }

    it("exciseVsPersistedGrams probes only the batch's gram buckets") {
      withoutAqe {
        val tmp = java.nio.file.Files.createTempDirectory("gram_prune_").toString
        try {
          // A corpus whose grams populate many buckets...
          val corpus = (1L to 200L).map(i => (i, s"corpus document number $i with body text $i")).toDF("doc_id", "text")
          graft.operators.Dedup.persistGramIndex(corpus, "text", "doc_id", tmp, k = 10, gramBuckets = 32)
          val populated = spark.read.parquet(tmp).select("bucket").distinct().count()
          populated should be > 8L
          // ...probed by ONE short doc (3 grams → at most 3 buckets).
          val probe = Seq((900L, "abcdefghijkl")).toDF("doc_id", "text")
          val plan = executed(graft.operators.Dedup.exciseVsPersistedGrams(probe, "text", "doc_id", tmp))
          val scans = plan.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec
                if f.relation.location.rootPaths.exists(_.toString.contains("gram_prune_")) &&
                  !f.relation.location.rootPaths.exists(_.toString.contains("_graft_gram_meta")) => f
          }
          scans should not be empty
          scans.foreach { f =>
            f.selectedPartitions.partitionCount should be <= 3
            f.selectedPartitions.partitionCount.toLong should be < populated
          }
        } finally {
          def rm(p: java.io.File): Unit = { Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); () }
          rm(new java.io.File(tmp))
        }
      }
    }

    it("star-schema rollup broadcasts every dimension — fact table never shuffles for the joins") {
      withoutAqe {
        val fact = spark.range(1, 2000).toDF("o_custkey")
          .withColumn("price", col("o_custkey") * 2.0)
        val c = broadcast(spark.range(1, 200).toDF("c_custkey")
          .withColumn("c_nationkey", pmod(col("c_custkey"), lit(10))))
        val n = broadcast(spark.range(0, 10).toDF("n_nationkey")
          .withColumn("n_regionkey", pmod(col("n_nationkey"), lit(3))))
        val r = broadcast(spark.range(0, 3).toDF("r_regionkey")
          .withColumn("r_name", concat(lit("R"), col("r_regionkey"))))
        val plan = executed(
          fact.join(c, fact("o_custkey") === c("c_custkey"))
            .join(n, c("c_nationkey") === n("n_nationkey"))
            .join(r, n("n_regionkey") === r("r_regionkey"))
            .groupBy("r_name").agg(sum("price").as("rev")))
        plan.collect { case b: BroadcastHashJoinExec => b }.size shouldBe 3
        shuffles(plan) shouldBe 1 // the final aggregate only
      }
    }

    it("funnel is ONE shuffle — stacked whole-partition windows + the per-user collapse reuse it") {
      withoutAqe {
        val ev = spark.range(1, 2000).toDF("i").select(
          pmod(col("i"), lit(50)).as("user_id"),
          col("i").as("tus"),
          element_at(array(lit("signup"), lit("view"), lit("click"), lit("purchase")),
            (pmod(col("i"), lit(4)) + 1).cast("int")).as("event_type"))
        val plan = executed(graft.operators.EventAnalytics.funnel(
          ev, "user_id", "tus", "event_type", Seq("signup", "view", "click", "purchase")))
        shuffles(plan) shouldBe 1
      }
    }

    it("blocked fuzzy linkage plans equi-joins per pass — never a cartesian/nested-loop") {
      withoutAqe {
        val dict = graft.operators.RecordLinkage.nameDictionary(
          Seq((1L, "red bolt"), (2L, "rad bolt"), (3L, "blue gear")).toDF("id", "nm"), "id", "nm")
        val plan = executed(graft.operators.RecordLinkage.fuzzyNamePairs(dict, maxDist = 2))
        plan.toString should not include "CartesianProduct"
        plan.toString should not include "BroadcastNestedLoopJoin"
      }
    }

    it("groupedExact quantiles are TWO shuffles — histogram agg, then the reduced frame to group keys") {
      withoutAqe {
        val df = spark.range(1, 5000).toDF("i").select(
          pmod(col("i"), lit(7)).cast("string").as("g"),
          (pmod(col("i") * 13, lit(1000)) / 10.0).as("v"))
        val plan = executed(graft.operators.Quantiles.groupedExact(
          df, Seq("g"), "v", scale = 100, qs = Seq(("p50", 0.5), ("p99", 0.99))))
        shuffles(plan) shouldBe 2
      }
    }

    it("rank-filter windows get Spark's native WindowGroupLimit (why q_window_rank stays idiomatic)") {
      withoutAqe {
        // Spark ≥ 3.5 inserts WindowGroupLimit below the exchange for
        // row_number-filter patterns — each map task pre-prunes its groups
        // to k candidates. TopK.perKey remains the stronger form (bounded
        // AGGREGATION, no per-group sort state), but the window gate is
        // not the naive full-sort plan either; this pins that.
        val df = spark.range(1, 5000).toDF("id")
          .select(pmod(col("id"), lit(50)).as("k"), col("id"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy(col("id").desc)
        val plan = executed(df.withColumn("rnk", row_number().over(w)).where(col("rnk") <= 3))
        plan.toString should include("WindowGroupLimit")
      }
    }

    it("ivfCellImbalance's probe reads only (cell, vec_id) — the vector column never loads") {
      withoutAqe {
        import graft.operators.{Dedup, Similarity}
        val dir = java.nio.file.Files.createTempDirectory("pa_ivf_imb_").toString
        val emb = (1 to 40).map(i =>
          (i.toLong, Array.tabulate(8)(d => ((i + d) % 5).toFloat))).toDF("vec_id", "embedding")
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", nlist = 4)
        Similarity.persistIvfIndex(emb, "vec_id", "embedding", cents, dir)
        Dedup.deleteFromPersistedIndex(Seq(3L).toDF("vec_id"), "vec_id", dir)
        val plan = executed(
          Similarity.ivfCellImbalanceFrame(spark, dir).groupBy("cell").count())
        val scans = plan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
        scans should not be empty
        // Both scans (index + tombstones) are thin: the full-width `vec`
        // column never loads — what makes the RetrainMode.Auto /
        // maintainIndexes drift check cheap relative to the rewrite it
        // may trigger.
        scans.foreach(f => f.requiredSchema.fieldNames should not contain "vec")
        atLeast(1, scans.map(_.requiredSchema.fieldNames.toSeq)) should contain("vec_id")
      }
    }

    it("kAnonymize broadcasts the violating-group set on the default path") {
      withoutAqe {
        val df = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "qi")
        val plan = executed(graft.operators.Privacy.kAnonymize(df, Seq("qi"), k = 2))
        plan.collect { case b: BroadcastHashJoinExec => b } should not be empty
      }
    }

    it("the native cosine expression stays inside whole-stage codegen") {
      assume(new java.io.File(sfDir).isDirectory)
      withoutAqe {
        // Over a REAL scan — a local Seq collapses to LocalTableScan via
        // ConvertToLocalRelation and shows no codegen span at all.
        val emb = Tpch.table(spark, sfDir, "embeddings")
        val df  = emb.select(graft.operators.Similarity.cosine(col("embedding"), col("embedding")).as("c"))
        df.collect().foreach(_.getDouble(0) shouldBe 1.0 +- 1e-9)
        // The `*(1)` star prefix is toString's WholeStageCodegen marker: a
        // codegen'd expression renders inside the starred span; a UDF would
        // appear as a ScalaUDF node breaking it.
        val s = executed(df).toString
        s should include("*(1) Project [graft_cosine")
        s should not include "ScalaUDF"
      }
    }

    it("resampleFill reads the raw event source once — grid/join/fill reuse the aggregated exchange") {
      withoutAqe {
        val ev = spark.range(0, 5000).select(
          pmod(col("id"), lit(50L)).as("k"),
          (col("id") * 1000).as("t"),
          lit(1L).as("v"))
        val plan = executed(
          graft.operators.EventAnalytics.resampleFill(ev, "k", "t", col("v"), 100000L))
        // The (k, period) aggregate is referenced twice (spans + the grid
        // join) under DIFFERENT column pruning, which defeats exchange
        // reuse — so the operator materializes the aggregate and every
        // downstream branch reads that. The serving plan must contain
        // ZERO raw-source scans (a RangeExec leaf here would mean the raw
        // event log is re-read per stage at 100 TB).
        val rawScans = plan.collect {
          case r: org.apache.spark.sql.execution.RangeExec => r
        }.size
        rawScans shouldBe 0
        plan.toString should include("Scan ExistingRDD")
      }
    }
  }
}

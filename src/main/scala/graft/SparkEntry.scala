package graft

import graft.dsl.TableSpec
import graft.functions.{Anonymizer, GraftFunctions, Lens}
import graft.plans.{SelfRefClosure, TableSorter}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver contract: one `queries` entry (+ DuckDB `oracleSql`) per operator
  * from SURVEY.md §2. Every computed column is aliased identically in the
  * Spark code and the oracle SQL (the driver's compare sorts columns by name
  * before hashing). All results carry a deterministic ORDER BY.
  */
object SparkEntry {

  /** Flagship: the full anonymize+subset pipeline over sf0.001 — filter
    * propagated region→nation→customer, names/emails anonymized.
    */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir   = "/root/testdata/sf0.001"
    val tables  = Seq("region", "nation", "customer")
    val manifest = Tpch.manifest.copy(
      tables = tables,
      fks = Tpch.manifest.fks.filter(fk => tables.contains(fk.childTable) && tables.contains(fk.parentTable))
    )
    val graft = new Graft(Tpch.catalog(spark, sfDir).view.filterKeys(tables.contains).toMap, manifest)
    graft.plan(
      "region"   -> TableSpec.select(row => Seq(row.r_name)).where("r_regionkey <= 2"),
      "nation"   -> TableSpec.select(row => Seq(row.n_name)),
      "customer" -> TableSpec.select(row => Seq(
        row.c_name.mapString(Anonymizer.FullName),
        row.c_acctbal,
        row.c_mktsegment
      ))
    )("customer")
  }

  import Tpch.{table => t}

  // ---------------------------------------------------------------------
  // Queries: (SparkSession, sfDir) => DataFrame
  // ---------------------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    coreQueries ++ relationalQueries ++ analyticsQueries ++ pipelineQueries ++
      streamingQueries ++ scaleQueries

  // ---------------------------------------------------------------------
  // Scale primitives wave: semi-join reduction, multi-dimensional data
  // layout, perceptual image near-dup, stream-stream event-time join.
  // ---------------------------------------------------------------------
  private def scaleQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Bloom-pruned join: the fact side (lineitem) is filtered SCAN-LOCAL
    // by a broadcast Bloom filter over the survivor key set — an
    // aggregation output, exactly the shape Spark's own runtime-filter
    // injection never covers — before the join's shuffle moves a byte.
    // False positives are discarded by the real join, so the result is
    // the plain semi-join (BloomJoinSpec pins identity + filter position).
    "q_bloom_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val keys = t(s, dir, "orders").where(col("o_totalprice") > 450000)
        .select(col("o_orderkey").as("l_orderkey")).distinct()
      graft.plans.BloomJoin.bloomPrunedJoin(li, keys, Seq("l_orderkey"), "left_semi")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast(DecimalType(12, 2))).cast("double").as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // Z-order clustered layout round trip: events written Morton-ordered
    // on (user_id, cents), read back through a BOTH-dimension range
    // filter. The answer is layout-invariant (that's what the oracle
    // checks); the pruning the layout buys — a selective filter on EITHER
    // dimension skips most files via parquet min/max stats — is measured
    // in ScaleToolsSpec against the unsorted and 1-D-sorted layouts.
    "q_zorder_scan" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_zorder").toString + "/z"
      val ev = Tpch.events(s, dir).select(
        col("event_id"),
        col("user_id"),
        floor(col("value").cast("double") * 100 + lit(0.5)).cast("long").as("cents"))
      graft.sinks.LakeSink.writeZOrdered(ev, tmp, Seq("user_id", "cents"), numFiles = 8)
      s.read.parquet(tmp)
        .where(col("user_id").between(3, 11) && col("cents").between(2000, 6000))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("cents")).as("sum_cents"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // Perceptual image fingerprints through the REAL codec path: each
    // document's synthetic PNG and its brightness-pushed twin are
    // ImageIO-decoded and dHashed; the saturation clamp flips a few
    // ordering bits, so the pair's hamming distance is small but nonzero
    // for the pushed images — the oracle replays every sampled pixel and
    // every comparison arithmetically.
    "q_multimodal_phash" -> ((s, dir) => {
      import graft.operators.Multimodal
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          Multimodal.imageDHash(Multimodal.syntheticPngTextured(col("doc_id"))).as("dh"),
          Multimodal.imageDHash(Multimodal.syntheticPngTexturedJittered(col("doc_id"))).as("dhj"))
        .withColumn("hamming", bit_count(col("dh").bitwiseXOR(col("dhj"))).cast("long"))
        .orderBy("doc_id")
    }),

    // Image near-duplicate pairs at scale: originals ∪ jittered twins
    // (offset id space), candidates via the pigeonhole-banded hamming
    // join (maxHamming 3 ⇒ 4 bands ⇒ ≥ 1 exact band match — recall is a
    // theorem), verified by exact bit_count. The oracle brute-forces all
    // pairs; the banded plan must produce the identical set.
    "q_multimodal_phash_pairs" -> ((s, dir) => {
      import graft.operators.{Dedup, Multimodal}
      val d = t(s, dir, "documents").select(col("doc_id"))
      val orig = d.select(
        col("doc_id"),
        Multimodal.imageDHash(Multimodal.syntheticPngTextured(col("doc_id"))).as("dh"))
      val jit = d.select(
        (col("doc_id") + 10000000L).as("doc_id"),
        Multimodal.imageDHash(Multimodal.syntheticPngTexturedJittered(col("doc_id"))).as("dh"))
      Dedup.simHashPairsBanded(orig.unionByName(jit), "doc_id", "dh", maxHamming = 3, fpBits = 63)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("doc_a", "doc_b")
    }),

    // IMAGE near-dup SERVING: the originals' dHashes persisted as a
    // band-partitioned fingerprint index, the jittered twins probed
    // against it (pruned partitions + exact popcount verify) — the
    // multimodal member of the incremental-dedup lifecycle family.
    "q_multimodal_phash_serve" -> ((s, dir) => {
      import graft.operators.{Dedup, Multimodal}
      val d = t(s, dir, "documents").select(col("doc_id"))
      // Read-only serve: build shared (GateCache) with the streaming twin.
      val tmp = graft.GateCache.dir(s"fpidx_full:$dir")(p =>
        Dedup.persistFingerprintIndex(
          d.select(col("doc_id"),
            Multimodal.imageDHash(Multimodal.syntheticPngTextured(col("doc_id"))).as("dh")),
          "doc_id", "dh", p, maxHamming = 3, fpBits = 63))
      Dedup.matchVsFingerprintIndex(
          d.select((col("doc_id") + 10000000L).as("doc_id"),
            Multimodal.imageDHash(Multimodal.syntheticPngTexturedJittered(col("doc_id"))).as("dh")),
          "doc_id", "dh", tmp)
        .select(col("doc_id"), col("matched_id"), col("hamming").cast("long").as("hamming"))
        .orderBy("doc_id", "matched_id")
    }),

    // Incremental ingest for the fingerprint index: build on the even
    // docs, APPEND the odd docs under the stored geometry, probe with the
    // jittered twins — the result must equal a probe of a one-shot full
    // index (the serve gate's oracle, shared verbatim).
    "q_multimodal_phash_append" -> ((s, dir) => {
      import graft.operators.{Dedup, Multimodal}
      val d = t(s, dir, "documents").select(col("doc_id"))
      val withFp = d.select(col("doc_id"),
        Multimodal.imageDHash(Multimodal.syntheticPngTextured(col("doc_id"))).as("dh"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_fpidx_app_").toString
      Dedup.persistFingerprintIndex(withFp.where(col("doc_id") % 2 === 0),
        "doc_id", "dh", tmp, maxHamming = 3, fpBits = 63)
      Dedup.persistFingerprintIndex(withFp.where(col("doc_id") % 2 === 1),
        "doc_id", "dh", tmp, maxHamming = 3, fpBits = 63, append = true)
      Dedup.matchVsFingerprintIndex(
          d.select((col("doc_id") + 10000000L).as("doc_id"),
            Multimodal.imageDHash(Multimodal.syntheticPngTexturedJittered(col("doc_id"))).as("dh")),
          "doc_id", "dh", tmp)
        .select(col("doc_id"), col("matched_id"), col("hamming").cast("long").as("hamming"))
        .orderBy("doc_id", "matched_id")
    }),

    // Click→purchase attribution, batch form: per-user event-time band
    // join (equi on user + 30-minute range residual). The stream twin
    // below runs the SAME join as a watermarked stream-stream join and
    // shares this oracle verbatim.
    "q_events_attribution" -> ((s, dir) => {
      val ev = Tpch.events(s, dir)
        .select(col("user_id"), expr("ts div 1000").as("tus"), col("event_type"))
      val c = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("tus").as("click_us"))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("tus").as("purchase_us"))
      c.join(
          p,
          c("user_id") === p("p_user") &&
            col("purchase_us") >= col("click_us") &&
            col("purchase_us") <= col("click_us") + lit(1800000000L))
        .select("user_id", "click_us", "purchase_us")
        .orderBy("user_id", "click_us", "purchase_us")
    }),

    // TRUE stream-stream join: both sides unbounded, watermark-bounded
    // join state, Append mode — see StreamGates.attributionViaStream for
    // the state-finiteness and completeness argument.
    "q_events_attribution_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.attributionViaStream(s, dir)),

    // LEFT OUTER attribution, batch form: every click, matched purchases
    // or NULLs. The stream twin's null-padded rows may only emit once
    // the watermark closes the click's band — the strictly harder outer
    // mode; it shares this oracle verbatim.
    "q_events_attribution_outer" -> ((s, dir) => {
      val ev = Tpch.events(s, dir)
        .select(col("user_id"), expr("ts div 1000").as("tus"), col("event_type"))
      val c = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("tus").as("click_us"))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("tus").as("purchase_us"))
      c.join(
          p,
          c("user_id") === p("p_user") &&
            col("purchase_us") >= col("click_us") &&
            col("purchase_us") <= col("click_us") + lit(1800000000L),
          "left_outer")
        .select("user_id", "click_us", "purchase_us")
        .orderBy("user_id", "click_us", "purchase_us")
    }),

    "q_events_attribution_outer_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.attributionOuterViaStream(s, dir)),

    // Multi-source BFS levels over the synthetic link graph (same edge
    // construction as q_pagerank): hop distance from node 0, ≤ 6 hops —
    // frontier-parallel rounds, cost ∝ edges touched by the frontier.
    // Oracle = a bounded recursive CTE taking min(level) per node.
    "q_graph_bfs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"))
      val nn = docs.agg(max("doc_id")).head.getLong(0) + 1
      val e = docs.select(col("doc_id").as("src"),
        explode(array(
          (col("doc_id") * 7 + 1) % nn,
          (col("doc_id") * 13 + 2) % nn,
          (col("doc_id") * 29 + 5) % nn)).as("dst"))
      graft.operators.LinkGraph.bfsLevels(e, "src", "dst", sources = Seq(0L), maxDepth = 6)
        .orderBy("node")
    }),

    // Daily resample + forward fill per user: the event log crosses the
    // network once (the (user, day) aggregation); the dense grid and the
    // carry-forward window work on the aggregated domain only.
    "q_events_resample" -> ((s, dir) => {
      val ev = Tpch.events(s, dir).select(
        col("user_id"),
        expr("ts div 1000").as("tus"),
        floor(col("value").cast("double") * 100 + lit(0.5)).cast("long").as("cents"))
      graft.operators.EventAnalytics
        .resampleFill(ev, "user_id", "tus", col("cents"), periodLength = 86400000000L)
        .select(
          col("user_id"),
          col("period").as("day"),
          col("value").as("cents_filled"),
          col("n_events"))
        .orderBy("user_id", "day")
    }),

    // Relational breadth: UNPIVOT (wide metric columns → long rows) —
    // the melt step every feature pipeline runs before a per-metric agg.
    "q_unpivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(pmod(col("l_orderkey"), lit(17)) === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("l_quantity"),
          col("l_extendedprice").cast("double").as("l_extendedprice"),
          col("l_discount").cast("double").as("l_discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "value")
        .orderBy("l_orderkey", "l_linenumber", "metric")),

    // Statistics breadth: per-group least-squares fit + correlation via
    // the NATIVE regr_*/corr aggregates (one map-side-combinable moments
    // pass — the distributed-sufficient-statistics shape), rounded to 4
    // decimals to absorb engine summation-order ULPs.
    "q_stats_regression" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope"),
          round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4).as("intercept"),
          round(expr("corr(l_extendedprice, l_quantity)"), 4).as("correlation"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")),

    // Snapshot time travel: three manifest commits (overwrite, append,
    // overwrite) then a read OF EACH VERSION — v1 and v2 must survive
    // v3's overwrite untouched. See sinks/VersionedTable for the
    // manifest/create-exclusive commit protocol.
    "q_lake_timetravel" -> ((s, dir) => {
      import graft.sinks.VersionedTable
      val tmp = java.nio.file.Files.createTempDirectory("graft_timetravel").toString + "/t"
      val base = Tpch.events(s, dir).select(
        col("event_id"),
        floor(col("value").cast("double") * 100 + lit(0.5)).cast("long").as("cents"))
      VersionedTable.commit(s, tmp, base.where(pmod(col("event_id"), lit(5)) =!= 0), append = false)
      VersionedTable.commit(s, tmp, base.where(pmod(col("event_id"), lit(5)) === 0), append = true)
      VersionedTable.commit(s, tmp, base.withColumn("cents", col("cents") + 7), append = false)
      (1 to 3)
        .map(v =>
          VersionedTable.read(s, tmp, Some(v))
            .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
            .withColumn("version", lit(v.toLong)))
        .reduce(_ unionByName _)
        .select("version", "n", "s")
        .orderBy("version")
    }),

    // Streamed snapshot ingest: each micro-batch lands as ONE append
    // commit (foreachBatch → VersionedTable.commit), so the commit log
    // records the stream's history; the final snapshot must equal the
    // batch table, and the version count equals the micro-batch count.
    "q_lake_timetravel_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.timetravelViaStream(s, dir)),

    // Incremental consumption off the commit log: three append commits,
    // then each consumer step reads ONLY the files its version range
    // added (v0→1, v1→2, v2→3) — per-step aggregates prove each
    // increment is exactly one slice, never a rescan of the table.
    "q_lake_increment" -> ((s, dir) => {
      import graft.sinks.VersionedTable
      val tmp = java.nio.file.Files.createTempDirectory("graft_increment").toString + "/t"
      val base = Tpch.events(s, dir).select(
        col("event_id"),
        floor(col("value").cast("double") * 100 + lit(0.5)).cast("long").as("cents"))
      (0 to 2).foreach(k =>
        VersionedTable.commit(s, tmp, base.where(pmod(col("event_id"), lit(3)) === k), append = true))
      (1 to 3)
        .map(v =>
          VersionedTable.readIncrement(s, tmp, v - 1, v)
            .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
            .withColumn("step", lit(v.toLong)))
        .reduce(_ unionByName _)
        .select("step", "n", "s")
        .orderBy("step")
    }),

    // Additive schema evolution: v2's files carry a column v1's predate;
    // a mergeSchema read surfaces the union schema with NULLs for the old
    // files — no rewrite of committed data.
    "q_lake_schema_evolution" -> ((s, dir) => {
      import graft.sinks.VersionedTable
      val tmp = java.nio.file.Files.createTempDirectory("graft_schema_evo").toString + "/t"
      val base = Tpch.events(s, dir).select(
        col("event_id"),
        expr("(ts div 1000) div 86400000000").as("day"),
        floor(col("value").cast("double") * 100 + lit(0.5)).cast("long").as("cents"))
      VersionedTable.commit(s, tmp,
        base.where(pmod(col("event_id"), lit(2)) === 0).select("event_id", "cents"),
        append = false)
      VersionedTable.commit(s, tmp,
        base.where(pmod(col("event_id"), lit(2)) === 1).select("event_id", "cents", "day"),
        append = true)
      VersionedTable.read(s, tmp, mergeSchema = true)
        .agg(
          count(lit(1)).as("n"),
          count(col("day")).as("n_with_day"),
          sum(col("cents")).as("s"),
          sum(col("day")).as("day_sum"))
    }),

    // Incremental view maintenance off the commit log: a per-day
    // aggregate table is MAINTAINED by merging each version increment
    // (agg of new files ∪ prior state → re-aggregate) — three O(new
    // data) steps whose final state must equal the full-table aggregate.
    // The composition readIncrement + merge IS the maintenance loop every
    // 100 TB rollup runs instead of nightly recomputes.
    "q_lake_incremental_agg" -> ((s, dir) => {
      import graft.sinks.VersionedTable
      val tmp = java.nio.file.Files.createTempDirectory("graft_ivm").toString + "/t"
      val base = Tpch.events(s, dir).select(
        col("event_id"),
        expr("(ts div 1000) div 86400000000").as("day"),
        floor(col("value").cast("double") * 100 + lit(0.5)).cast("long").as("cents"))
      (0 to 2).foreach(k =>
        VersionedTable.commit(s, tmp, base.where(pmod(col("event_id"), lit(3)) === k), append = true))
      var state: DataFrame = null
      (1 to 3).foreach { v =>
        val inc = VersionedTable.readIncrement(s, tmp, v - 1, v)
          .groupBy("day").agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
        state =
          if (state == null) inc
          else state.unionByName(inc)
            .groupBy("day").agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
      }
      state.orderBy("day")
    }),

    // Complex-type breadth: array higher-order functions — transform /
    // filter / aggregate run as CODEGEN'D Catalyst expressions over the
    // collected array, the "functions, not UDFs" doctrine applied to
    // nested data (a UDF here would deserialize every array per call).
    "q_array_hof" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(pmod(col("l_orderkey"), lit(23)) === 0)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(col("l_quantity").cast("long"))).as("qs"))
        .select(
          col("l_orderkey"),
          expr("aggregate(qs, 0L, (a, x) -> a + x)").as("total"),
          size(expr("filter(qs, x -> x > 25)")).cast("long").as("n_big"),
          expr("aggregate(transform(qs, x -> x * 2), 0L, (a, x) -> a + x)").as("doubled_sum"))
        .orderBy("l_orderkey")),

    // Datetime-function breadth over o_orderdate (a TIMESTAMP in the
    // fixture — cast to DATE once on both engines; dayofweek mapped to
    // DuckDB's 0-based Sunday; trunc month stays a DATE on both).
    "q_datetime_funcs" -> ((s, dir) => {
      val d = col("o_orderdate").cast("date")
      t(s, dir, "orders")
        .where(pmod(col("o_orderkey"), lit(31)) === 0)
        .select(
          col("o_orderkey"),
          year(d).cast("long").as("yr"),
          quarter(d).cast("long").as("qtr"),
          month(d).cast("long").as("mon"),
          dayofmonth(d).cast("long").as("dom"),
          dayofweek(d).cast("long").as("dow_1sun"),
          last_day(d).as("month_end"),
          trunc(d, "month").as("month_start"),
          datediff(d, lit(java.sql.Date.valueOf("1995-01-01"))).cast("long").as("days_since"),
          date_add(d, 30).as("plus_30"))
        .orderBy("o_orderkey")
    }),

    // Relational breadth: the ranking-window suite (ntile / percent_rank /
    // cume_dist) over a UNIQUE ordering (totalprice, orderkey — a tie in
    // the sort key would make row-dependent ranks engine-ambiguous).
    "q_window_suite" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderstatus").orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .where(pmod(col("o_orderkey"), lit(11)) === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cume", cume_dist().over(w))
        .select("o_orderkey", "o_orderstatus", "rn", "quartile", "pct_rank", "cume")
        .orderBy("o_orderstatus", "rn")
    }),

    // ENGINE-managed streaming dedup: duplicates re-emitted 10 minutes
    // later are suppressed by dropDuplicatesWithinWatermark state — the
    // native sibling of the custom q_dedup_stream operator. The projected
    // payload is identical across copies, so which copy wins inside a
    // micro-batch is immaterial; late copies (behind the watermark) are
    // dropped outright — same result either way (argued in the gate's
    // scaladoc-style comment; oracle = the distinct original rows).
    "q_dedup_stream_native" -> ((s, dir) => {
      val base = Tpch.events(s, dir).select(
        col("event_id"),
        timestamp_micros(expr("ts div 1000")).as("ts"),
        floor(col("value").cast("double") * 100 + lit(0.5)).cast("long").as("cents"))
      val dups = base.where(pmod(col("event_id"), lit(7)) === 0)
        .withColumn("ts", col("ts") + expr("INTERVAL 10 MINUTES"))
      graft.streaming.StreamGates.replayViaFiles(
          s, base.unionByName(dups), "ts", chunks = 3,
          org.apache.spark.sql.streaming.OutputMode.Append()) { in =>
          in.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark("event_id")
            .select("event_id", "cents")
        }
        .orderBy("event_id")
    })
  )

  // ---------------------------------------------------------------------
  // Streaming gates: the hashed result came through the Structured
  // Streaming engine (MemoryStream chronological replay → stateful
  // operator → memory sink), not a batch shortcut — see
  // [[graft.streaming.StreamGates]] for the replay + numeric-domain
  // contract that makes the output byte-comparable to DuckDB.
  // ---------------------------------------------------------------------
  private def streamingQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Gap sessionization (30-min) via flatMapGroupsWithState + event-time
    // timeout; sessions emitted on gap restart or watermark timeout.
    "q_events_sessions_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.sessionsViaStream(s, dir)),

    // Tumbling 1-hour windows via streaming aggregation, Complete mode.
    "q_events_window_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.windowViaStream(s, dir)),

    // Streaming near-dup candidate detection: per-bucket MinHash band
    // state + watermark eviction + windowed signature-estimate pairing,
    // replayed chronologically through the real state machine.
    "q_dedup_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.nearDupViaStream(s, dir)),

    // Train-batch/serve-stream LM quality filter: compact model trained on
    // the batch corpus, corpus scored as a file-source stream through the
    // scan-local scorer. Shares q_text_lm_score's oracle verbatim.
    "q_text_lm_score_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.lmScoreViaStream(s, dir)),

    // Train-batch/serve-stream supervised quality classifier: the pinned
    // micro-unit model scored scan-local over a file-source stream.
    // Shares q_text_classifier_score's oracle verbatim (integer logits).
    "q_text_classifier_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.classifierScoreViaStream(s, dir)),

    // Train-batch/serve-stream DSIR importance scoring: the 64-bucket
    // fixed-point model trained on the batch corpus, every doc scored
    // scan-local over a file-source stream (stateless integer projection).
    "q_sample_importance_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.importanceViaStream(s, dir)),

    // The WHOLE quality stack train-batch/serve-stream: classifier + LM +
    // heuristics flags per doc over a file-source stream, every leg
    // scan-local. Shares q_quality_ensemble's oracle verbatim.
    "q_quality_ensemble_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.ensembleViaStream(s, dir)),

    // The composed continuously-ingesting pipeline: ensemble filter →
    // persisted-index near-dup rejection → DSIR weight, per micro-batch.
    "q_corpus_pipeline_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.corpusPipelineViaStream(s, dir)),

    // Data-contract rules as a Complete-mode streaming aggregation: the
    // engine maintains running fail counts across micro-batches; totals
    // must equal the batch report (counts are arrival-order-proof).
    "q_data_expectations_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.expectationsViaStream(s, dir)),

    // The term-distribution drift monitor train-batch/monitor-stream:
    // frozen even-doc_id reference histogram, Complete-mode running term
    // counts over the streamed odd-doc_id snapshot, shared KL math.
    // Per-window term drift: watermarked Append 2-minute windows against
    // the frozen reference vocabulary — per-window KL with per-window
    // smoothing totals and union-vocab size. State = vocab × windows-in-
    // flight.
    "q_term_drift_windowed" -> ((s, dir) =>
      graft.streaming.StreamGates.termDriftWindowedViaStream(s, dir)),

    // Shares q_term_drift's oracle verbatim.
    "q_term_drift_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.termDriftViaStream(s, dir)),

    // The PSI drift monitor train-batch/monitor-stream: frozen reference
    // histogram, Complete-mode running bin counts over the streamed
    // current window, shared fixed-point contribution math. Shares
    // q_stats_psi's oracle verbatim.
    "q_stats_psi_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.psiViaStream(s, dir)),

    // Per-window PSI: watermarked Append-mode day windows scored against
    // the frozen reference — "how far did each day drift", the pageable
    // alert shape. State = bins × windows-in-flight.
    "q_stats_psi_windowed" -> ((s, dir) =>
      graft.streaming.StreamGates.psiWindowedViaStream(s, dir)),

    // Streaming funnel: per-user stage cascade advanced incrementally
    // across micro-batches. Shares q_events_funnel's oracle verbatim.
    "q_events_funnel_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.funnelViaStream(s, dir)),

    // Sliding windows through the streaming engine (Complete mode).
    // Shares q_events_sliding's oracle verbatim.
    "q_events_sliding_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.slidingViaStream(s, dir)),

    // NATIVE session_window streaming aggregation (Append + watermark,
    // sentinel-flushed). Shares q_events_session_native's oracle.
    "q_events_session_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.sessionNativeViaStream(s, dir)),

    // Stream-static enrichment: events streamed against the customer
    // dimension (stateless join, no watermark); oracle is the batch join.
    "q_events_enrich_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.enrichViaStream(s, dir)),

    // Streaming rolling z-monitor: lookback-bounded per-user state, the
    // same integer-exact test as the batch window form — shares
    // q_events_rolling_outlier's oracle verbatim.
    "q_events_rolling_outlier_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.rollingOutlierViaStream(s, dir)),

    // Streaming serving of incremental dedup: new docs streamed through
    // per-batch partition-pruned probes of the persisted signature index.
    // Shares q_dedup_incremental_matches' oracle verbatim.
    "q_dedup_incremental_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.incrementalMatchViaStream(s, dir)),

    // CONTINUOUS INGEST with automatic upkeep: each micro-batch appends
    // to the persisted signature index, forgets its % 3 ids, and runs the
    // maintainIndexes policy sweep — which compacts MID-STREAM (audit
    // rows pin generations 1, 2, 3); the post-stream probe must equal the
    // fresh-build-on-survivors replay.
    "q_index_maintain_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.indexMaintainViaStream(s, dir)),

    // CONTINUOUS DOCUMENT INGEST with automatic BM25 upkeep — the
    // three-relation maintain-stream member: batches append postings /
    // partial term stats / doc lengths EXACTLY-ONCE, forget their % 3
    // ids, and the policy sweep's mid-stream compacts recount doc_freq;
    // the post-stream pruned serve must score exactly like a fresh
    // build on the survivors.
    "q_bm25_maintain_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.bm25MaintainViaStream(s, dir)),

    // CONTINUOUS VECTOR INGEST with automatic IVF-PQ upkeep — the
    // billion-vector family's daily-crawl shape: batches append encoded
    // under the frozen codebooks, forget their % 3 ids, and the policy
    // sweep compacts MID-STREAM (codes carried; the PQ-drift Auto check
    // rides each fired compact). Post-stream serving (thin ADC stage +
    // exact rescore, exhaustive probe) must equal the exact top-k over
    // the survivors.
    "q_ivfpq_maintain_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.ivfPqMaintainViaStream(s, dir)),

    // Streamed-query retrieval serving: each micro-batch of queries
    // probes the persisted TERM-BUCKETED BM25 index (partition-pruned
    // postings reads per trigger). Shares q_bm25_topk's oracle.
    "q_bm25_serve_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.bm25ServeViaStream(s, dir)),

    // Streamed exact set-similarity serving: new docs' bigram sets probe
    // the frozen prefix-filter index per micro-batch (two pruned reads per
    // trigger). Same oracle as the batch serve gate.
    "q_jaccard_serve_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.jaccardServeViaStream(s, dir)),

    // Streamed image-fingerprint dedup serving: jittered probes arrive as
    // a stream, each micro-batch probes the persisted band-partitioned
    // dHash index (partition-pruned reads per trigger). Same oracle as the
    // batch serve gate.
    "q_multimodal_phash_serve_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.phashServeViaStream(s, dir)),

    // Streamed-query ANN serving: each micro-batch probes the persisted
    // CELL-PARTITIONED IVF index (only probed cells read per trigger).
    // Shares q_knn_ivf_probe's oracle.
    "q_knn_ivf_serve_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.ivfServeViaStream(s, dir)),

    // Streamed persisted-IVF-PQ serving: thin code-column reads over the
    // probed cells per trigger, vectors only for each batch's shortlist.
    // Shares q_knn_ivf_pq_serve's exact oracle (exhaustive probe +
    // generous shortlist + exact rescore → codebook-independent).
    "q_knn_ivf_pq_serve_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.ivfPqServeViaStream(s, dir)),

    // Streamed substring-excision serving: new documents stream in; each
    // micro-batch is excised against the persisted corpus gram index
    // (bucket-pruned reads per trigger). Shares q_text_excise_serve's
    // oracle verbatim — a doc's verdict depends only on the frozen index.
    "q_text_excise_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.exciseServeViaStream(s, dir))
  )

  /** DuckDB twins of the streaming gates. Sessionization runs in the ms
    * domain (epoch_us//1000) matching java.sql.Timestamp resolution; sums
    * are exact DECIMAL cast to DOUBLE once, matching the gates'
    * cents-exact accumulation.
    */
  private def streamingOracles: Map[String, String] = {
    import OracleGen._
    // MinHash replay for the streaming near-dup gate — same hashed-shingle
    // signature arithmetic as the batch minhash oracles, but at the
    // streaming operator's geometry (8 bands × 4 rows over 32 hashes) and
    // restricted to the synthetic event-time window (doc_id minutes apart,
    // 60-minute window ⇒ |Δdoc_id| ≤ 60). est_jaccard = matching
    // components / 32 — exact in binary, byte-comparable across engines.
    val sh3     = shinglesSql("text", 3)
    val hsh3    = s"list_sort(list_distinct(list_transform($sh3, s -> ${hashSql("s")})))"
    val offsets = graft.operators.Dedup.minHashOffsets(32).mkString("[", ",", "]")
    val hashI   = s"(((2*i+1) * h + ($offsets)[(i+1)::BIGINT]) % ${graft.operators.Dedup.MinHashPrime})"
    val bandKey4 = (1 to 4).map(k => s"sg[4*b+$k]::VARCHAR").mkString(" || ':' || ")
    val dedupStreamSql =
      s"""WITH docs AS (SELECT doc_id, $hsh3 AS shs FROM documents),
         |sig AS (SELECT doc_id, [list_min([$hashI for h in shs]) for i in range(0, 32)] AS sg FROM docs),
         |bands AS (SELECT doc_id, b, $bandKey4 AS key FROM sig, range(0, 8) t(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
         |         FROM bands a JOIN bands c ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id
         |         WHERE c.doc_id - a.doc_id <= 60),
         |est AS (SELECT doc_a, doc_b,
         |  len([i for i in range(1, 33) if x.sg[i] = y.sg[i]])::DOUBLE / 32 AS est_jaccard
         |  FROM cand JOIN sig x ON doc_a = x.doc_id JOIN sig y ON doc_b = y.doc_id)
         |SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin
    Map(
    "q_dedup_stream" -> dedupStreamSql,

    // Streamed serving ≡ nightly batch: the oracle is the batch
    // incremental-match replay, verbatim.
    "q_dedup_incremental_stream" ->
      s"""WITH ${incrementalCte(hsh3, hashI)}
         |SELECT nid AS doc_id, oid AS matched_id, CAST(k AS BIGINT) AS est_32
         |FROM matched ORDER BY doc_id, matched_id""".stripMargin,

    "q_events_enrich_stream" ->
      """SELECT e.event_id, e.user_id, c.c_mktsegment AS segment
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin,

    "q_events_sessions_stream" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) // 1000 AS tms, value FROM events),
        |w AS (SELECT user_id, tms, value,
        |      lag(tms) OVER (PARTITION BY user_id ORDER BY tms) AS prev FROM ev),
        |s AS (SELECT user_id, tms, value,
        |      CASE WHEN prev IS NULL OR tms - prev > 1800000 THEN 1 ELSE 0 END AS flag FROM w),
        |g AS (SELECT user_id, tms, value,
        |      sum(flag) OVER (PARTITION BY user_id ORDER BY tms ROWS UNBOUNDED PRECEDING) AS session_no FROM s)
        |SELECT user_id, CAST(session_no AS BIGINT) AS session_no, count(*) AS n_events,
        |min(tms) AS start_ms,
        |CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
        |FROM g GROUP BY user_id, session_no ORDER BY user_id, session_no""".stripMargin,

    "q_events_window_stream" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type, count(*) AS cnt,
        |CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin
    )
  }

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1/F1/P1: scan + filter + projection (pushdown-friendly).
    "q_scan_filter_project" -> ((s, dir) =>
      t(s, dir, "customer")
        .where("c_acctbal > 5000 AND c_mktsegment = 'BUILDING'")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")),

    // O1: top-N (TakeOrderedAndProject — no global sort).
    "q_topn" -> ((s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .orderBy(col("o_orderkey").desc)
        .limit(100)),

    // Aggregation with exact decimal sums (doubles would be order-sensitive).
    "q_agg_group" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("cnt"),
          // Sum exactly in DECIMAL, emit DOUBLE: both engines produce the
          // identical exact decimal, and converting the SAME decimal to the
          // nearest double is bit-identical — while the driver's hasher
          // treats wide-DECIMAL columns differently from the local replica
          // (two rounds of evidence). Gate outputs are scalar non-decimal.
          sum(col("l_quantity").cast(DecimalType(12, 2))).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(14, 2))).cast("double").as("sum_price")
        )
        .orderBy("l_returnflag", "l_linestatus")),

    // A1: count over a filtered scan.
    "q_count_filter" -> ((s, dir) =>
      t(s, dir, "lineitem").where("l_quantity > 25").agg(count(lit(1)).as("cnt"))),

    // A2: sequence-reset value (coalesce(max(id),0)+1).
    "q_max_plus_one" -> ((s, dir) =>
      t(s, dir, "orders").agg((coalesce(max("o_orderkey"), lit(0L)) + 1).as("next_id"))),

    // F2/J1: left-semi equi-join on a filtered parent.
    "q_semijoin" -> ((s, dir) => {
      val orders = t(s, dir, "orders").where("o_totalprice > 400000").select("o_orderkey")
      val li     = t(s, dir, "lineitem")
      li.join(orders, li("l_orderkey") === orders("o_orderkey"), "left_semi")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // F2 transitive: full planner drive — customer filter propagates
    // customer→orders→lineitem through Graft.plan (coverage+keys+semi-joins).
    "q_propagation_2hop" -> ((s, dir) => {
      val graft = new Graft(Tpch.catalog(s, dir), Tpch.manifest)
      val plans = graft.plan(
        "region"   -> TableSpec.select(row => Seq(row.r_name)),
        "nation"   -> TableSpec.select(row => Seq(row.n_name)),
        "customer" -> TableSpec.select(row => Seq(row.c_name, row.c_acctbal, row.c_mktsegment))
          .where("c_mktsegment = 'BUILDING'"),
        "supplier" -> TableSpec.select(row => Seq(row.s_name, row.s_acctbal)),
        "part"     -> TableSpec.select(row => Seq(row.p_name, row.p_brand, row.p_type, row.p_size, row.p_retailprice)),
        "orders"   -> TableSpec.select(row => Seq(row.o_orderstatus, row.o_totalprice, row.o_orderdate, row.o_orderpriority)),
        "lineitem" -> TableSpec.select(row => Seq(
          row.l_quantity, row.l_extendedprice, row.l_discount, row.l_tax,
          row.l_returnflag, row.l_linestatus, row.l_shipdate))
      )
      plans("lineitem").select("l_orderkey", "l_linenumber").orderBy("l_orderkey", "l_linenumber")
    }),

    // The whole-pipeline gate: Graft.run end-to-end — coverage validation,
    // key merge, filter propagation (customer → orders → lineitem), five
    // anonymizers, level-parallel parquet WRITE — then the written output
    // is read back and reduced to one scalar summary row per table
    // (rows, an order-independent stableHash checksum over the key +
    // anonymized string columns, and an exact-decimal numeric sum). This
    // is the flagship path a reference user actually runs
    // (DbCopierIntegrationTest shape); the oracle replays propagation +
    // anonymization in SQL and must match every checksum.
    "q_graft_e2e" -> ((s, dir) => {
      val g      = new Graft(Tpch.catalog(s, dir), Tpch.manifest)
      val outDir = java.nio.file.Files.createTempDirectory("graft_e2e_").toString
      g.run(outDir, s)(
        "region"   -> TableSpec.select(row => Seq(row.r_name)),
        "nation"   -> TableSpec.select(row => Seq(row.n_name)),
        "customer" -> TableSpec.select(row => Seq(
            row.c_name.mapString(Anonymizer.FullName), row.c_acctbal, row.c_mktsegment))
          .where("c_mktsegment = 'BUILDING'"),
        "supplier" -> TableSpec.select(row => Seq(row.s_name.mapString(Anonymizer.Redact), row.s_acctbal)),
        "part"     -> TableSpec.select(row => Seq(
            row.p_brand.mapString(Anonymizer.PartialRedact(2, 2)),
            row.p_name, row.p_type, row.p_size, row.p_retailprice)),
        "orders"   -> TableSpec.select(row => Seq(
            row.o_orderstatus, row.o_totalprice, row.o_orderdate,
            row.o_orderpriority.mapString(Anonymizer.LoremText))),
        "lineitem" -> TableSpec.select(row => Seq(
            row.l_quantity, row.l_extendedprice, row.l_discount, row.l_tax,
            row.l_returnflag, row.l_linestatus, row.l_shipdate))
      )
      val hashU = udf((x: String) => Anonymizer.stableHash(x))
      def summarize(tbl: String, strCols: Seq[String], numCol: Option[String]): DataFrame = {
        val df  = s.read.parquet(s"$outDir/$tbl")
        val str = concat_ws("|", strCols.map(col): _*)
        df.agg(
          count(lit(1)).as("n_rows"),
          coalesce(sum(hashU(str)), lit(0L)).as("str_checksum"),
          // Exact decimal sum → DOUBLE output (see q_agg_group note).
          numCol.map(c => sum(col(c).cast(DecimalType(18, 2))).cast("double"))
            .getOrElse(lit(0.0)).as("num_sum")
        ).select(lit(tbl).as("table_name"), col("n_rows"), col("str_checksum"), col("num_sum"))
      }
      summarize("region", Seq("r_regionkey", "r_name"), None)
        .unionByName(summarize("nation", Seq("n_nationkey", "n_name"), None))
        .unionByName(summarize("customer", Seq("c_custkey", "c_name", "c_mktsegment"), Some("c_acctbal")))
        .unionByName(summarize("supplier", Seq("s_suppkey", "s_name"), Some("s_acctbal")))
        .unionByName(summarize("part", Seq("p_partkey", "p_brand"), Some("p_retailprice")))
        .unionByName(summarize("orders", Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"), Some("o_totalprice")))
        .unionByName(summarize("lineitem", Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"), Some("l_extendedprice")))
        .orderBy("table_name")
    }),

    // F3: self-ref closure (recursive-CTE semantics as iterative fixpoint)
    // over a derived binary-heap hierarchy of customers.
    "q_selfref_closure" -> ((s, dir) => {
      val h = t(s, dir, "customer").selectExpr(
        "c_custkey AS id",
        "CASE WHEN c_custkey > 0 THEN c_custkey div 2 END AS parent_id",
        "c_acctbal"
      )
      val base = h.where("c_acctbal > 1000")
      SelfRefClosure
        .filterReachable(base, base, Seq("parent_id"), Seq("id"))
        .select("id")
        .orderBy("id")
    }),

    // G1: FK-topological leveling (driver-side plan, checked as data).
    "q_topo_levels" -> ((s, dir) => {
      val levels = TableSorter.computeTableLevels(Tpch.tables, Tpch.manifest.fks)
      val rows   = levels.toSeq.sortBy(_._1).map { case (n, l) => Row(n, l) }
      s.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        StructType(Seq(StructField("table_name", StringType), StructField("lvl", IntegerType)))
      ).orderBy("table_name")
    }),

    // X2-X6: name anonymizers (P2 string-map projections).
    "q_anon_names" -> ((s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey"),
        GraftFunctions.firstName(col("c_name")).as("fn"),
        GraftFunctions.maleFirstName(col("c_name")).as("mfn"),
        GraftFunctions.femaleFirstName(col("c_name")).as("ffn"),
        GraftFunctions.lastName(col("c_name")).as("ln"),
        GraftFunctions.fullName(col("c_name")).as("full_name")
      ).orderBy("c_custkey")),

    // X5, X7-X11: contact-data anonymizers.
    "q_anon_contact" -> ((s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey"),
        GraftFunctions.email(col("c_name")).as("email"),
        GraftFunctions.phoneNumber(col("c_name")).as("phone"),
        GraftFunctions.streetAddress(col("c_name")).as("street"),
        GraftFunctions.city(col("c_name")).as("city"),
        GraftFunctions.state(col("c_name")).as("st"),
        GraftFunctions.stateAbbr(col("c_name")).as("st_abbr"),
        GraftFunctions.country(col("c_name")).as("country"),
        GraftFunctions.zipCode(col("c_name")).as("zip")
      ).orderBy("c_custkey")),

    // X12-X14: redaction + lorem.
    "q_anon_redact" -> ((s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey"),
        GraftFunctions.redact(col("c_mktsegment")).as("seg_redacted"),
        GraftFunctions.partialRedact(2, 2)(col("c_name")).as("pr22"),
        GraftFunctions.partialRedact(1, 3)(col("c_name")).as("pr13"),
        GraftFunctions.loremText(col("c_name")).as("lorem")
      ).orderBy("c_custkey")),

    // P8/X6: JSON Field lens with an anonymizer focused on one field.
    "q_lens_field" -> ((s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey"),
        GraftFunctions.lensUdf(Lens.Field("name"), Anonymizer.FullName)(
          concat(lit("{\"name\": \""), col("c_name"), lit("\", \"seg\": \""), col("c_mktsegment"), lit("\"}"))
        ).as("anon_json")
      ).orderBy("c_custkey")),

    // P6/P9/X8: ArrayElements(Field) lens over a JSON array.
    "q_lens_array" -> ((s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey"),
        GraftFunctions.lensUdf(Lens.ArrayElements(Lens.Field("number")), Anonymizer.PhoneNumber)(
          concat(
            lit("[{\"type\": \"home\", \"number\": \""), col("c_name"),
            lit("\"}, {\"type\": \"work\", \"number\": \""), col("c_mktsegment"), lit("\"}]")
          )
        ).as("anon_array")
      ).orderBy("c_custkey")),

    // P10: lens error tolerance — numeric field → warn + compact passthrough.
    "q_lens_numeric_passthrough" -> ((s, dir) =>
      Tpch.events(s, dir).select(
        col("event_id"),
        GraftFunctions.lensUdf(Lens.Field("k"), Anonymizer.Redact)(col("props")).as("props_out")
      ).orderBy("event_id")),

    // Event-time tumbling window aggregation (ts arrives as nanos Long).
    "q_events_window" -> ((s, dir) =>
      Tpch.events(s, dir)
        .withColumn("hour_start", timestamp_seconds((col("ts") / lit(3600000000000L)).cast("long") * 3600))
        .groupBy("hour_start", "event_type")
        .agg(
          count(lit(1)).as("cnt"),
          // Exact decimal sum → DOUBLE output (see q_agg_group note).
          sum(col("value").cast(DecimalType(12, 2))).cast("double").as("sum_value")
        )
        .orderBy("hour_start", "event_type"))
  )

  // ---------------------------------------------------------------------
  // General relational breadth: joins+aggs, windows, distinct aggregates,
  // set operations, anti joins, rollup, null-handling parity. These have
  // no custom operator underneath (Catalyst built-ins) — they are gate
  // evidence that the engine surface is complete.
  // ---------------------------------------------------------------------
  private def relationalQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Multi-way join + group aggregation (TPC-H Q3 shape), exact decimals.
    "q_join_agg" -> ((s, dir) => {
      val c  = t(s, dir, "customer").where("c_mktsegment = 'BUILDING'")
      val o  = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        // Exact decimal sum → DOUBLE output (see q_agg_group note).
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(DecimalType(18, 4))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // Window function: rank orders per customer by price, keep top 3.
    "q_window_rank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
        .orderBy("o_custkey", "rnk")
    }),

    // Per-key top-k by BOUNDED partial aggregation: same result as
    // q_window_rank's row_number window, but the shuffle carries at most
    // k candidates per (partition, key) instead of every row — the
    // 100 TB formulation of grouped top-k (oracle = the window SQL).
    "q_topk_grouped" -> ((s, dir) =>
      graft.operators.TopK.perKey(
        t(s, dir, "orders").select("o_custkey", "o_totalprice", "o_orderkey"),
        Seq("o_custkey"), "o_totalprice", "o_orderkey", k = 3)
        .orderBy("o_custkey", "rnk")),

    // Distinct aggregate.
    "q_distinct_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct("l_partkey").as("distinct_parts"), count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")),

    // Set operations: customers that placed an order vs not (union of the
    // two labeled key sets; intersect/except under the hood).
    "q_set_ops" -> ((s, dir) => {
      val custKeys  = t(s, dir, "customer").select(col("c_custkey").as("k"))
      val orderCust = t(s, dir, "orders").select(col("o_custkey").as("k")).distinct()
      val withO     = custKeys.intersect(orderCust).withColumn("label", lit("with_orders"))
      val without   = custKeys.except(orderCust).withColumn("label", lit("no_orders"))
      withO.unionByName(without).orderBy("k")
    }),

    // Co-located join off BUCKETED storage: both sides are written
    // bucketed by the join key (LakeSink.writeBucketed), then joined —
    // bucketing pre-shuffles ONCE at write time, so the join itself runs
    // with NO exchange on either side (PlanAuditSpec pins that plan
    // shape). The 100 TB story: a fact table joined repeatedly on the
    // same key amortizes its shuffle across every downstream query. The
    // gate pays write + re-read + join inside the measured query; the
    // oracle is the plain join on the original parquet — bucketing must
    // not change a row.
    "q_bucket_join" -> ((s, dir) => {
      import graft.sinks.LakeSink
      val tmp = java.nio.file.Files.createTempDirectory("graft_bkt_").toString
      LakeSink.writeBucketed(
        t(s, dir, "orders").select("o_orderkey", "o_orderstatus"),
        "graft_bkt_orders", Seq("o_orderkey"), 8,
        sortCols = Seq("o_orderkey"), path = Some(s"$tmp/orders"))
      LakeSink.writeBucketed(
        t(s, dir, "lineitem").select("l_orderkey", "l_quantity", "l_extendedprice"),
        "graft_bkt_lineitem", Seq("l_orderkey"), 8,
        sortCols = Seq("l_orderkey"), path = Some(s"$tmp/lineitem"))
      val o  = s.table("graft_bkt_orders")
      val li = s.table("graft_bkt_lineitem")
      o.join(li, o("o_orderkey") === li("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast(DecimalType(12, 2))).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(14, 2))).cast("double").as("sum_price"))
        .orderBy("o_orderstatus")
    }),

    // Point lookup off a BLOOM-FILTERED lake layout: lineitem written
    // bucketed with parquet bloom filters on the probe key
    // (LakeSink.writeBucketed bloomFilterCols), then an id-list equality
    // probe — the forget-flow/CDC read shape. On an unsorted
    // high-cardinality column min/max statistics prune nothing; the
    // per-row-group bloom is what skips (ScaleToolsSpec pins the scan-row
    // delta; this gate pins the write-path rows end-to-end — blooms must
    // never drop a qualifying row).
    "q_bloom_point_probe" -> ((s, dir) => {
      import graft.sinks.LakeSink
      val tmp = java.nio.file.Files.createTempDirectory("graft_bloom_").toString
      LakeSink.writeBucketed(
        t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
        "graft_bloom_lineitem", Seq("l_orderkey"), 8,
        path = Some(s"$tmp/lineitem"),
        bloomFilterCols = Seq("l_orderkey"),
        bloomFilterNdv = Map("l_orderkey" -> 2000000L))
      s.table("graft_bloom_lineitem")
        .where(col("l_orderkey").isin(7L, 227L, 1317L, 4000L))
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Salted skew join (plans.Skew): fact side salted by a deterministic
    // hash of l_linenumber, dim side replicated per salt — the hot-key
    // mitigation when AQE's skew-split can't engage (a single key can't
    // be split by AQE). Must be row-identical to the plain join, which is
    // exactly what the oracle checks.
    "q_skew_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber")
      val o  = t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      graft.plans.Skew
        .saltedJoin(li, o, Seq("l_orderkey"), saltFrom = "l_linenumber", salts = 8)
        .select(col("l_orderkey"), col("l_linenumber"), col("o_orderstatus"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Left anti join: parts never appearing in a high-quantity lineitem.
    "q_anti_join" -> ((s, dir) => {
      val p  = t(s, dir, "part")
      val li = t(s, dir, "lineitem").where("l_quantity >= 48").select("l_partkey")
      p.join(li, p("p_partkey") === li("l_partkey"), "left_anti")
        .select("p_partkey", "p_brand")
        .orderBy("p_partkey")
    }),

    // ROLLUP aggregation (grouping-set hierarchy with subtotal rows).
    "q_rollup" -> ((s, dir) =>
      t(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        // Exact decimal sum → DOUBLE output (see q_agg_group note).
        .agg(count(lit(1)).as("cnt"), sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)),

    // Gaps-and-islands sessionization via window functions (the batch
    // equivalent of EventStream.sessionize): a session breaks after a
    // 30-minute silence per user.
    "q_events_sessions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // Whole computation in the µs domain to match DuckDB's parquet
      // reader, which truncates nano timestamps to µs.
      val byUser = Window.partitionBy("user_id").orderBy("ts_us")
      val ev = Tpch.events(s, dir)
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("prev_ts", lag("ts_us", 1).over(byUser))
        .withColumn("new_session", when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > lit(1800000000L), 1).otherwise(0))
        .withColumn("session_no", sum("new_session").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      ev.groupBy("user_id", "session_no")
        .agg(
          count(lit(1)).as("n_events"),
          // Microseconds via integer division: DuckDB's parquet reader
          // TRUNCATES nanos to µs (verified), and double-precision second
          // conversion would wobble at 1.7e18 ns magnitudes.
          min(col("ts_us")).as("start_us"),
          // Exact decimal sum → DOUBLE output (see q_agg_group note).
          sum(col("value").cast(DecimalType(14, 2))).cast("double").as("total_value")
        )
        .orderBy("user_id", "session_no")
    }),

    // Interpolated median per event type. Rounded DOUBLE (not DECIMAL):
    // Spark and DuckDB interpolate with different FP operation orders, and
    // Spark writes narrow decimals as INT32 parquet which the driver's
    // hasher sees differently — round(x, 4) on a DOUBLE is the stable form.
    "q_events_median" -> ((s, dir) =>
      Tpch.events(s, dir)
        .groupBy("event_type")
        .agg(
          round(percentile(col("value"), lit(0.5)), 4).as("median_value"),
          count(lit(1)).as("cnt")
        )
        .orderBy("event_type")),

    // Anonymizer null/empty passthrough parity: derived NULL and ''
    // inputs flow through unchanged on both engines.
    "q_anon_nulls" -> ((s, dir) =>
      t(s, dir, "customer")
        .withColumn("maybe_null", when(col("c_mktsegment") === "BUILDING", null).otherwise(col("c_mktsegment")))
        .withColumn("maybe_empty", when(col("c_mktsegment") === "MACHINERY", lit("")).otherwise(col("c_mktsegment")))
        .select(
          col("c_custkey"),
          GraftFunctions.fullName(col("maybe_null")).as("fn_null"),
          GraftFunctions.email(col("maybe_empty")).as("em_empty"),
          GraftFunctions.loremText(col("maybe_null")).as("lorem_null")
        )
        .orderBy("c_custkey"))
  )

  private def relationalOracles: Map[String, String] = Map(
    "q_join_agg" ->
      """SELECT l_orderkey, o_orderdate,
        |CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, rnk FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,

    "q_distinct_agg" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_parts, count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_topk_grouped" ->
      """SELECT o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderkey, rnk FROM (
        |  SELECT o_custkey, o_totalprice, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,

    "q_set_ops" ->
      """SELECT k, label FROM (
        |  SELECT k, 'with_orders' AS label FROM
        |    (SELECT c_custkey AS k FROM customer INTERSECT SELECT DISTINCT o_custkey FROM orders)
        |  UNION ALL
        |  SELECT k, 'no_orders' AS label FROM
        |    (SELECT c_custkey AS k FROM customer EXCEPT SELECT DISTINCT o_custkey FROM orders))
        |ORDER BY k""".stripMargin,

    "q_bucket_join" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        |CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_skew_salted_join" ->
      """SELECT l_orderkey, l_linenumber, o_orderstatus
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // Bloom filters are advisory row-group skips — the result set must be
    // exactly the plain probe's.
    "q_bloom_point_probe" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey IN (7, 227, 1317, 4000)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_anti_join" ->
      """SELECT p_partkey, p_brand FROM part
        |WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 48)
        |ORDER BY p_partkey""".stripMargin,

    "q_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_events_sessions" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS tus, value FROM events),
        |w AS (SELECT user_id, tus, value,
        |      lag(tus) OVER (PARTITION BY user_id ORDER BY tus) AS prev FROM ev),
        |s AS (SELECT user_id, tus, value,
        |      CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END AS flag FROM w),
        |g AS (SELECT user_id, tus, value,
        |      sum(flag) OVER (PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING) AS session_no FROM s)
        |SELECT user_id, CAST(session_no AS BIGINT) AS session_no, count(*) AS n_events,
        |min(tus) AS start_us,
        |CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
        |FROM g GROUP BY user_id, session_no ORDER BY user_id, session_no""".stripMargin,

    "q_events_median" ->
      """SELECT event_type, round(quantile_cont(value, 0.5), 4) AS median_value,
        |count(*) AS cnt FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_anon_nulls" -> {
      import OracleGen._
      s"""SELECT c_custkey,
         |${fullName("(CASE WHEN c_mktsegment = 'BUILDING' THEN NULL ELSE c_mktsegment END)")} AS fn_null,
         |${email("(CASE WHEN c_mktsegment = 'MACHINERY' THEN '' ELSE c_mktsegment END)")} AS em_empty,
         |${loremText("(CASE WHEN c_mktsegment = 'BUILDING' THEN NULL ELSE c_mktsegment END)")} AS lorem_null
         |FROM customer ORDER BY c_custkey""".stripMargin
    }
  )

  // ---------------------------------------------------------------------
  // Warehouse analytics + privacy QA: star-schema rollup, event funnels,
  // cohort retention, k-anonymity/l-diversity auditing + suppression,
  // blocked fuzzy record linkage / entity resolution.
  // ---------------------------------------------------------------------
  private def analyticsQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Star-schema rollup with ALL dimensions broadcast: the fact table
    // (orders) never shuffles for the joins — one exchange total (the
    // final aggregate). PlanAuditSpec pins the three BroadcastHashJoins.
    "q_star_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = broadcast(t(s, dir, "customer").select("c_custkey", "c_nationkey"))
      val n = broadcast(t(s, dir, "nation").select("n_nationkey", "n_regionkey"))
      val r = broadcast(t(s, dir, "region").select("r_regionkey", "r_name"))
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("revenue"))
        .orderBy("r_name", "o_year")
    }),

    // Ordered-sequence funnel over the event log: first completion time
    // per stage, each stage counted only strictly after the previous —
    // one exchange on user_id, stacked whole-partition window minimums.
    "q_events_funnel" -> ((s, dir) =>
      graft.operators.EventAnalytics.funnel(
          Tpch.events(s, dir).select(col("user_id"), expr("ts div 1000").as("tus"), col("event_type")),
          "user_id", "tus", "event_type",
          Seq("signup", "view", "click", "purchase"))
        .orderBy("user_id")),

    // Cohort retention: users bucketed by first-activity day, counted
    // active per day offset. Raw events collapse to distinct (user, day)
    // before anything else touches them.
    "q_events_retention" -> ((s, dir) =>
      graft.operators.EventAnalytics.cohortRetention(
          Tpch.events(s, dir).select(col("user_id"), expr("ts div 1000").as("tus")),
          "user_id", "tus", periodLength = 86400000000L)
        .orderBy("cohort_period", "period_offset")),

    // Relational breadth: PIVOT — per-user event-type counts as columns
    // (fixed pivot value list, so schema is static and oracle-replayable
    // as CASE sums; an unlisted type can never add a column at runtime).
    "q_pivot" -> ((s, dir) =>
      Tpch.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("signup", "view", "click", "purchase", "error"))
        .count()
        .na.fill(0L)
        .orderBy("user_id")),

    // Relational breadth: lag window — per-user inter-event gaps (max via
    // lag over the user partition; the span needs only min/max).
    "q_events_gaps" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("tus")
      Tpch.events(s, dir)
        .select(col("user_id"), expr("ts div 1000").as("tus"))
        .withColumn("gap", col("tus") - lag(col("tus"), 1).over(w))
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_events"),
          max(col("gap")).as("max_gap_us"),
          (max(col("tus")) - min(col("tus"))).as("span_us"))
        .orderBy("user_id")
    }),

    // Relational breadth: native JSON extraction (get_json_object over the
    // props column — codegen'd path access, no UDF).
    "q_events_props_parse" -> ((s, dir) =>
      Tpch.events(s, dir)
        .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("k")).as("sum_k"),
          count(when(col("k") > 50, lit(1))).as("n_high"))
        .orderBy("event_type")),

    // k-anonymity + l-diversity audit over the anonymizer's natural QI
    // set (nation × market segment), sensitive = account-balance band.
    "q_k_anonymity" -> ((s, dir) =>
      graft.operators.Privacy.kAnonymityAudit(
          t(s, dir, "customer").select(
            col("c_nationkey").cast("long").as("c_nationkey"),
            col("c_mktsegment"),
            floor(col("c_acctbal") / 1000).cast("long").as("bal_band")),
          Seq("c_nationkey", "c_mktsegment"), k = 12, sensitiveCol = "bal_band", l = 3)
        .orderBy("c_nationkey", "c_mktsegment")),

    // Suppression enforcement: QI columns nulled for rows whose QI group
    // has < k members (violating groups broadcast back onto the rows).
    "q_k_anon_suppress" -> ((s, dir) =>
      graft.operators.Privacy.kAnonymize(
          t(s, dir, "customer").select(
            col("c_custkey"),
            col("c_nationkey").cast("long").as("c_nationkey"),
            col("c_mktsegment"),
            col("c_acctbal")),
          Seq("c_nationkey", "c_mktsegment"), k = 12)
        .orderBy("c_custkey")),

    // Ladder-search generalization to k-anonymity: full-domain recoding
    // steps every QI's coarsening ladder together until all groups reach
    // k (residue suppressed). The chosen level is data-derived; the
    // oracle re-runs the same violation probes.
    "q_k_anon_generalize" -> ((s, dir) =>
      graft.operators.Privacy.generalizeToK(
          t(s, dir, "customer").select(
            col("c_custkey"), col("c_nationkey"), col("c_mktsegment"), col("c_acctbal")),
          ladders = Seq(
            ("nat_gen", Seq(
              col("c_nationkey").cast("long"),
              expr("c_nationkey div 5").cast("long"),
              lit(0L))),
            ("seg_gen", Seq(col("c_mktsegment"), lit("ANY"), lit("ANY"))),
            ("bal_gen", Seq(
              floor(col("c_acctbal") / 2000).cast("long"),
              floor(col("c_acctbal") / 5000).cast("long"),
              lit(0L)))),
          sourceCols = Seq("c_nationkey", "c_mktsegment", "c_acctbal"),
          k = 12)
        .orderBy("c_custkey")),

    // Exact grouped quantiles off the cents-domain value histogram: the
    // shuffle carries |groups × distinct cents|, never the raw rows —
    // the distributed replacement for Spark's value-buffering percentile.
    "q_events_quantiles" -> ((s, dir) =>
      graft.operators.Quantiles.groupedExact(
          Tpch.events(s, dir).select(col("event_type"), col("value")),
          Seq("event_type"), "value", scale = 100,
          qs = Seq(("p50_fp", 0.5), ("p90_fp", 0.9), ("p99_fp", 0.99)))
        .orderBy("event_type")),

    // ε = ln 2 differentially-private segment counts (two-sided geometric
    // mechanism, integer-exact seed-derived noise; only the released
    // value leaves the operator).
    "q_dp_counts" -> ((s, dir) =>
      graft.operators.Privacy.noisyCounts(
          t(s, dir, "customer"), Seq("c_mktsegment"), seed = "release-2026-08-r8")
        .orderBy("c_mktsegment")),

    // CDC apply to a day-partitioned lake table: base written partitioned,
    // deterministic update batch (modified values + inserted keys) merged
    // via LakeSink.mergePartitioned — dynamic partition overwrite rewrites
    // ONLY the touched day directories. The gate hashes the post-merge
    // per-day census; the oracle replays the merge in SQL.
    "q_lake_merge" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_lake_merge").toString + "/t"
      val base = Tpch.events(s, dir).select(
        col("event_id"),
        expr("(ts div 1000) div 86400000000").as("day"),
        floor(col("value").cast("double") * 100 + lit(0.5)).cast("long").as("cents"))
      base.write.mode("overwrite").partitionBy("day").parquet(tmp)
      val minDay = base.agg(min("day")).head.getLong(0)
      val updates = base.where(pmod(col("event_id"), lit(97)) === 0)
        .select(col("event_id"), col("day"), (col("cents") + 1000).as("cents"))
        .unionByName(base.where(pmod(col("event_id"), lit(101)) === 0)
          .select((col("event_id") + 10000000L).as("event_id"),
            lit(minDay).as("day"), lit(500L).as("cents")))
      graft.sinks.LakeSink.mergePartitioned(s, tmp, updates, Seq("event_id"), "day")
      s.read.parquet(tmp)
        .groupBy(col("day").cast("long").as("day"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
        .orderBy("day")
    }),

    // Streamed CDC apply: the same update batch arriving as 3 micro-
    // batches, each merged into the partitioned table per trigger.
    // Shares q_lake_merge's oracle verbatim.
    "q_lake_merge_stream" -> ((s, dir) =>
      graft.streaming.StreamGates.mergeViaStream(s, dir)),

    // Source-format breadth: ORC round trip (the columnar sibling —
    // binary-exact for every type).
    "q_orc_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_orc").toString + "/o"
      val src = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
      src.write.mode("overwrite").orc(tmp)
      s.read.schema(src.schema).orc(tmp).orderBy("l_orderkey", "l_linenumber")
    }),

    // Source-format breadth: CSV round trip (header + explicit schema;
    // doubles survive via shortest-round-trip rendering).
    "q_csv_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_csv").toString + "/c"
      val src = t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      src.write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.schema(src.schema).option("header", "true").csv(tmp).orderBy("c_custkey")
    }),

    // Source-format breadth: JSON-lines round trip, including the props
    // column (JSON embedded in a string — escaping must survive).
    "q_json_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_json").toString + "/j"
      val src = Tpch.events(s, dir)
        .select(col("event_id"), col("event_type"), col("props"), expr("ts div 1000").as("tus"))
      src.write.mode("overwrite").json(tmp)
      s.read.schema(src.schema).json(tmp).orderBy("event_id")
    }),

    // Native SLIDING windows (window with a slide < length): each event
    // lands in length/slide = 4 overlapping hourly windows.
    "q_events_sliding" -> ((s, dir) =>
      Tpch.events(s, dir)
        .select(
          timestamp_micros(expr("ts div 1000")).as("tst"),
          col("event_type"),
          col("value"))
        .groupBy(window(col("tst"), "1 hour", "15 minutes"), col("event_type"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("value").cast(DecimalType(12, 2))).cast("double").as("sum_value"))
        .select(
          unix_micros(col("window.start")).as("ws_us"),
          col("event_type"), col("cnt"), col("sum_value"))
        .orderBy("ws_us", "event_type")),

    // Native SESSION windows (session_window): engine-managed gap merge —
    // the built-in sibling of the custom sessionize operators. Spark
    // splits at gap >= 30 min (merge while diff < gap); the oracle
    // replays that exact boundary.
    "q_events_session_native" -> ((s, dir) =>
      Tpch.events(s, dir)
        .select(
          timestamp_micros(expr("ts div 1000")).as("tst"),
          col("user_id"),
          col("value"))
        .groupBy(session_window(col("tst"), "30 minutes"), col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(14, 2))).cast("double").as("total_value"))
        .select(
          col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n_events"), col("total_value"))
        .orderBy("user_id", "start_us")),

    // Distributed triangle count over the synthetic link graph (the
    // PageRank edge set): degree-oriented compact-forward — wedge volume
    // bounded O(|E|^1.5), each triangle counted exactly once.
    "q_triangles" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"))
      val nn = docs.agg(max("doc_id")).head.getLong(0) + 1
      val e = docs.select(col("doc_id").as("src"),
        explode(array(
          (col("doc_id") * 7 + 1) % nn,
          (col("doc_id") * 13 + 2) % nn,
          (col("doc_id") * 29 + 5) % nn)).as("dst"))
      graft.operators.LinkGraph.triangleCount(e)
    }),

    // Integer-exact z-score outliers: cross-multiplied moment inequality
    // in the cents domain — no float variance, bit-identical verdicts.
    "q_outliers" -> ((s, dir) =>
      graft.operators.Profiler.zScoreOutliers(
          Tpch.events(s, dir).select(col("event_id"), col("event_type"), col("value")),
          Seq("event_type"), "value", scale = 100, z = 3)
        .where(col("is_outlier") === 1)
        .select("event_id", "event_type", "fp")
        .orderBy("event_id")),

    // Data-contract validation in ONE aggregation pass + an FK orphan
    // check — the per-rule report a pipeline gates on (n_fail = 0), with
    // NULL-predicate rows counted as failures.
    "q_data_expectations" -> ((s, dir) => {
      import graft.operators.Expectations
      val li = t(s, dir, "lineitem")
      Expectations.validate(li, Seq(
          Expectations.Rule("qty_range", col("l_quantity").between(1, 50)),
          Expectations.Rule("returnflag_domain", col("l_returnflag").isin("A", "N", "R")),
          Expectations.Rule("positive_price", col("l_extendedprice") > 0),
          Expectations.Rule("discount_range", col("l_discount").between(0, 0.1))))
        .unionByName(Expectations.validateFk("fk_lineitem_orders",
          li, t(s, dir, "orders"), Seq("l_orderkey" -> "o_orderkey")))
        .orderBy("rule")
    }),

    // Integer-exact TWAP per user: each value holds until the user's next
    // event; weighted sum, covered duration, and the BIGINT quotient.
    "q_events_twap" -> ((s, dir) => {
      val ev = Tpch.events(s, dir).select(
        col("user_id"), col("event_id"),
        expr("ts div 1000").as("ts_us"),
        floor(col("value").cast("double") * 100 + lit(0.5)).cast("long").as("cents"))
      graft.operators.EventAnalytics.twap(ev, "user_id", "ts_us", "cents", tieCols = Seq("event_id"))
        .orderBy("user_id")
    }),

    // Distribution drift between the event log's two halves: per-bin PSI
    // contributions in fixed-point nano-units (single ln per bin, exact
    // BIGINT total), add-one smoothed — the standard snapshot-drift
    // monitor, per-bin so the DRIVER of drift is visible.
    "q_stats_psi" -> ((s, dir) => {
      val ev = Tpch.events(s, dir).select(
        col("event_id"),
        floor(col("value").cast("double") * 100 + lit(0.5)).cast("long").as("cents"))
      val mid = ev.agg(max(col("event_id").cast("long"))).head.getLong(0) / 2
      graft.operators.Profiler.psiFixedPoint(
          ev.where(col("event_id") <= mid), ev.where(col("event_id") > mid),
          "cents", binWidth = 4000L, numBins = 16)
        .orderBy("bin")
    }),

    // ROLLING per-user outlier monitor (the streaming-adjacent sibling of
    // the global q_outliers): each event tested against its user's 10
    // preceding events only — no self-leakage, integer-exact z-test
    // cleared of division/sqrt, cold start (< 5 predecessors) never
    // flags.
    "q_events_rolling_outlier" -> ((s, dir) => {
      val ev = Tpch.events(s, dir).select(
        col("event_id"), col("user_id"),
        expr("ts div 1000").as("ts_us"),
        floor(col("value").cast("double") * 100 + lit(0.5)).cast("long").as("cents"))
      graft.operators.EventAnalytics.rollingOutliers(
          ev, "user_id", Seq("ts_us", "event_id"), "cents")
        .select("event_id", "user_id", "is_outlier")
        .orderBy("event_id")
    }),

    // Relational breadth: FULL OUTER join (positive-balance customers vs
    // per-customer order aggregates — unmatched rows survive both sides).
    "q_full_outer" -> ((s, dir) => {
      val c = t(s, dir, "customer").where(col("c_acctbal") > 0)
        .select(col("c_custkey"), col("c_name"))
      val o = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("total"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(
          coalesce(c("c_custkey"), o("o_custkey")).as("custkey"),
          col("c_name"), col("n_orders"), col("total"))
        .orderBy("custkey")
    }),

    // Relational breadth: CUBE (all grouping-set combinations; the
    // rollup gate's lattice sibling).
    "q_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)),

    // ε = ln 2 DP per-segment value sums: user-level contribution clamp
    // (fixed-point cents), quantization to the clamp lattice, geometric
    // noise — only the released value leaves.
    "q_dp_sums" -> ((s, dir) =>
      graft.operators.Privacy.noisySums(
          Tpch.events(s, dir).select(col("event_type"), col("user_id"), col("value")),
          Seq("event_type"), "user_id", "value",
          clampFp = 10000L, seed = "release-2026-08-r8")
        .orderBy("event_type")),

    // SCD Type-2 dimension build from a change log: per-key validity
    // intervals via one lead window (purchases as the change stream).
    "q_scd2_build" -> ((s, dir) =>
      graft.operators.EventAnalytics.scd2(
          Tpch.events(s, dir).where(col("event_type") === "purchase")
            .select(
              col("user_id"), col("event_id"),
              expr("ts div 1000").as("tus"),
              floor(col("value").cast("double") * 100 + lit(0.5)).cast("long").as("cents")),
          Seq("user_id"), "tus", "event_id")
        .drop("tus")
        .orderBy("user_id", "valid_from", "event_id")),

    // CDC compaction — latest state per key via the bounded partial-agg
    // top-k (k = 1): the shuffle carries one candidate per (partition,
    // key), never the change log.
    "q_cdc_latest" -> ((s, dir) =>
      graft.operators.TopK.perKey(
          Tpch.events(s, dir).select(col("user_id"), expr("ts div 1000").as("tus"), col("event_id")),
          Seq("user_id"), "tus", "event_id", k = 1)
        .orderBy("user_id")),

    // Blocked fuzzy linkage over the part-name dictionary: multi-pass
    // blocking (first token ∪ last token), thresholded levenshtein ≤ 2.
    "q_fuzzy_join" -> ((s, dir) =>
      graft.operators.RecordLinkage.fuzzyNamePairs(
          graft.operators.RecordLinkage.nameDictionary(t(s, dir, "part"), "p_partkey", "p_name"),
          maxDist = 2)
        .orderBy("key_a", "key_b")),

    // Full entity resolution: fuzzy name pairs → transitive clusters →
    // canonical (minimum-key) name broadcast back onto every part row.
    "q_entity_resolution" -> ((s, dir) =>
      graft.operators.RecordLinkage.canonicalizeByName(
          t(s, dir, "part").select("p_partkey", "p_name"),
          "p_partkey", "p_name", maxDist = 2)
        .select("p_partkey", "p_name", "canon_name")
        .orderBy("p_partkey"))
  )

  private def analyticsOracles: Map[String, String] = {
    // Shared CTE: the name dictionary + blocked fuzzy pairs (both passes,
    // UNION-deduped), replaying the implementation's blocking exactly.
    val fuzzyCte =
      """dict AS (SELECT p_name AS nm, min(p_partkey) AS nk FROM part GROUP BY p_name),
        |cand AS (
        |  SELECT a.nk AS key_a, b.nk AS key_b, a.nm AS name_a, b.nm AS name_b
        |  FROM dict a JOIN dict b
        |    ON split_part(a.nm, ' ', 1) = split_part(b.nm, ' ', 1) AND a.nk < b.nk
        |  WHERE levenshtein(a.nm, b.nm) <= 2
        |  UNION
        |  SELECT a.nk, b.nk, a.nm, b.nm
        |  FROM dict a JOIN dict b
        |    ON split_part(a.nm, ' ', -1) = split_part(b.nm, ' ', -1) AND a.nk < b.nk
        |  WHERE levenshtein(a.nm, b.nm) <= 2)""".stripMargin
    // CDC-merge replay — shared verbatim by the streamed form.
    val lakeMergeOracleSql =
      """WITH base AS (SELECT event_id, epoch_us(ts) // 86400000000 AS day,
        |  CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |md AS (SELECT min(day) AS m FROM base),
        |upd AS (SELECT event_id, day, cents + 1000 AS cents FROM base WHERE event_id % 97 = 0
        |        UNION ALL
        |        SELECT event_id + 10000000, m, 500 FROM base, md WHERE event_id % 101 = 0),
        |merged AS (SELECT * FROM base WHERE event_id NOT IN (SELECT event_id FROM upd)
        |           UNION ALL SELECT * FROM upd)
        |SELECT day, count(*) AS n, CAST(sum(cents) AS BIGINT) AS s
        |FROM merged GROUP BY day ORDER BY day""".stripMargin
    // Sliding windows: each event lands in exactly length/slide = 4
    // windows (k ∈ 0..3 unrolled). Shared verbatim by the streamed form.
    val slidingOracleSql =
      """WITH ev AS (SELECT epoch_us(ts) AS tus, event_type, value FROM events),
        |w AS (SELECT ((tus // 900000000) - k) * 900000000 AS ws_us, event_type, value
        |      FROM ev, range(0, 4) t(k))
        |SELECT ws_us, event_type, count(*) AS cnt,
        |CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY ws_us, event_type ORDER BY ws_us, event_type""".stripMargin
    // Native session_window replay (split at gap >= 30 min, end = last +
    // gap). Shared verbatim by the streamed form.
    val sessionNativeOracleSql =
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS tus, value FROM events),
        |l AS (SELECT user_id, tus, value,
        |      lag(tus) OVER (PARTITION BY user_id ORDER BY tus) AS prev FROM ev),
        |f AS (SELECT user_id, tus, value,
        |      CASE WHEN prev IS NULL OR tus - prev >= 1800000000 THEN 1 ELSE 0 END AS flag FROM l),
        |g AS (SELECT user_id, tus, value,
        |      sum(flag) OVER (PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING) AS sid FROM f)
        |SELECT user_id, min(tus) AS start_us, max(tus) + 1800000000 AS end_us,
        |count(*) AS n_events,
        |CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
        |FROM g GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin
    // PSI replay: identical binning (floor division, clamped), add-one
    // smoothing, single-ln per-bin contribution rounded to nano-units.
    // Shared verbatim by the streamed monitor gate (running Complete-mode
    // counts converge to the batch histogram).
    val psiOracleSql =
      """WITH ev AS (SELECT event_id, CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS cents
        |           FROM events),
        |mx AS (SELECT max(event_id) // 2 AS s FROM ev),
        |tagged AS (
        |  SELECT least(greatest(cents, 0) // 4000, 15) AS bin, 1 AS side FROM ev, mx WHERE event_id <= s
        |  UNION ALL
        |  SELECT least(greatest(cents, 0) // 4000, 15) AS bin, 2 AS side FROM ev, mx WHERE event_id > s),
        |counts AS (SELECT bin,
        |  CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a_cnt,
        |  CAST(sum(CASE WHEN side = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b_cnt
        |  FROM tagged GROUP BY 1),
        |tot AS (SELECT sum(a_cnt) AS ta, sum(b_cnt) AS tb FROM counts)
        |SELECT bin, a_cnt, b_cnt,
        |  CAST(floor((CAST(a_cnt + 1 AS DOUBLE) / (ta + 16) - CAST(b_cnt + 1 AS DOUBLE) / (tb + 16))
        |    * (ln(CAST(a_cnt + 1 AS DOUBLE) / (ta + 16)) - ln(CAST(b_cnt + 1 AS DOUBLE) / (tb + 16)))
        |    * 1e9 + 0.5) AS BIGINT) AS contrib_nano
        |FROM counts, tot ORDER BY bin""".stripMargin

    // Batch funnel replay — shared verbatim by the streamed funnel gate.
    val funnelOracleSql =
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS tus, event_type FROM events),
        |s1 AS (SELECT user_id, min(CASE WHEN event_type = 'signup' THEN tus END) AS t1
        |       FROM ev GROUP BY user_id),
        |s2 AS (SELECT e.user_id, t1,
        |       min(CASE WHEN event_type = 'view' AND tus > t1 THEN tus END) AS t2
        |       FROM ev e JOIN s1 ON e.user_id = s1.user_id GROUP BY e.user_id, t1),
        |s3 AS (SELECT e.user_id, t1, t2,
        |       min(CASE WHEN event_type = 'click' AND tus > t2 THEN tus END) AS t3
        |       FROM ev e JOIN s2 ON e.user_id = s2.user_id GROUP BY e.user_id, t1, t2),
        |s4 AS (SELECT e.user_id, t1, t2, t3,
        |       min(CASE WHEN event_type = 'purchase' AND tus > t3 THEN tus END) AS t4
        |       FROM ev e JOIN s3 ON e.user_id = s3.user_id GROUP BY e.user_id, t1, t2, t3)
        |SELECT user_id, t1, t2, t3, t4,
        |CAST(CASE WHEN t4 IS NOT NULL THEN 4 WHEN t3 IS NOT NULL THEN 3
        |          WHEN t2 IS NOT NULL THEN 2 WHEN t1 IS NOT NULL THEN 1
        |          ELSE 0 END AS BIGINT) AS stage_reached
        |FROM s4 ORDER BY user_id""".stripMargin
    Map(
      "q_star_join" ->
        """SELECT r_name, CAST(year(o_orderdate) AS BIGINT) AS o_year, count(*) AS n_orders,
          |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY r_name, o_year ORDER BY r_name, o_year""".stripMargin,

      "q_events_funnel" -> funnelOracleSql,

      // Streamed funnel ≡ batch funnel, verbatim.
      "q_events_funnel_stream" -> funnelOracleSql,

      "q_events_retention" ->
        """WITH act AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS p FROM events),
          |f AS (SELECT user_id, min(p) AS cohort_period FROM act GROUP BY user_id)
          |SELECT cohort_period, a.p - cohort_period AS period_offset,
          |count(DISTINCT a.user_id) AS n_active
          |FROM act a JOIN f ON a.user_id = f.user_id
          |GROUP BY cohort_period, period_offset
          |ORDER BY cohort_period, period_offset""".stripMargin,

      "q_pivot" ->
        """SELECT user_id,
          |CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
          |CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
          |CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
          |CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
          |CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

      "q_events_gaps" ->
        """WITH ev AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
          |g AS (SELECT user_id, tus,
          |      tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus) AS gap FROM ev)
          |SELECT user_id, count(*) AS n_events, max(gap) AS max_gap_us,
          |max(tus) - min(tus) AS span_us
          |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

      "q_events_props_parse" ->
        """SELECT event_type, count(*) AS cnt,
          |CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          |count(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) > 50 THEN 1 END) AS n_high
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

      "q_k_anonymity" ->
        """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_mktsegment,
          |count(*) AS group_size,
          |count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS sensitive_distinct,
          |CAST(CASE WHEN count(*) < 12 THEN 1 ELSE 0 END AS BIGINT) AS k_violation,
          |CAST(CASE WHEN count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) < 3
          |          THEN 1 ELSE 0 END AS BIGINT) AS l_violation
          |FROM customer GROUP BY c_nationkey, c_mktsegment
          |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

      "q_k_anon_suppress" ->
        """WITH g AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
          |           FROM customer GROUP BY c_nationkey, c_mktsegment)
          |SELECT c_custkey,
          |CASE WHEN n < 12 THEN NULL ELSE CAST(c.c_nationkey AS BIGINT) END AS c_nationkey,
          |CASE WHEN n < 12 THEN NULL ELSE c.c_mktsegment END AS c_mktsegment,
          |c_acctbal
          |FROM customer c JOIN g
          |  ON c.c_nationkey = g.c_nationkey AND c.c_mktsegment = g.c_mktsegment
          |ORDER BY c_custkey""".stripMargin,

      "q_k_anon_generalize" ->
        """WITH
          |g0 AS (SELECT CAST(c_nationkey AS BIGINT) a, c_mktsegment b,
          |       CAST(floor(c_acctbal / 2000) AS BIGINT) c, count(*) n
          |       FROM customer GROUP BY 1, 2, 3),
          |v0 AS (SELECT count(*) c FROM g0 WHERE n < 12),
          |g1 AS (SELECT CAST(c_nationkey // 5 AS BIGINT) a, 'ANY' b,
          |       CAST(floor(c_acctbal / 5000) AS BIGINT) c, count(*) n
          |       FROM customer GROUP BY 1, 2, 3),
          |v1 AS (SELECT count(*) c FROM g1 WHERE n < 12),
          |lvl AS (SELECT CASE WHEN (SELECT c FROM v0) = 0 THEN 0
          |                    WHEN (SELECT c FROM v1) = 0 THEN 1 ELSE 2 END AS l),
          |q AS (SELECT c_custkey,
          |  CASE (SELECT l FROM lvl) WHEN 0 THEN CAST(c_nationkey AS BIGINT)
          |       WHEN 1 THEN CAST(c_nationkey // 5 AS BIGINT) ELSE 0 END AS nat_gen,
          |  CASE (SELECT l FROM lvl) WHEN 0 THEN c_mktsegment ELSE 'ANY' END AS seg_gen,
          |  CASE (SELECT l FROM lvl) WHEN 0 THEN CAST(floor(c_acctbal / 2000) AS BIGINT)
          |       WHEN 1 THEN CAST(floor(c_acctbal / 5000) AS BIGINT) ELSE 0 END AS bal_gen,
          |  CAST((SELECT l FROM lvl) AS BIGINT) AS gen_level
          |  FROM customer),
          |gg AS (SELECT nat_gen, seg_gen, bal_gen, count(*) n FROM q GROUP BY 1, 2, 3)
          |SELECT c_custkey,
          |CASE WHEN n < 12 THEN NULL ELSE q.nat_gen END AS nat_gen,
          |CASE WHEN n < 12 THEN NULL ELSE q.seg_gen END AS seg_gen,
          |CASE WHEN n < 12 THEN NULL ELSE q.bal_gen END AS bal_gen,
          |gen_level
          |FROM q JOIN gg USING (nat_gen, seg_gen, bal_gen)
          |ORDER BY c_custkey""".stripMargin,

      "q_events_quantiles" -> {
        def pick(q: Double, name: String) =
          s"CAST(min(CASE WHEN cum >= greatest(1, CAST(ceil($q * n) AS BIGINT)) THEN fp END) AS BIGINT) AS $name"
        s"""WITH h AS (SELECT event_type,
           |       CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS fp, count(*) AS c
           |       FROM events GROUP BY 1, 2),
           |w AS (SELECT event_type, fp,
           |      sum(c) OVER (PARTITION BY event_type ORDER BY fp ROWS UNBOUNDED PRECEDING) AS cum,
           |      sum(c) OVER (PARTITION BY event_type) AS n FROM h)
           |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
           |${pick(0.5, "p50_fp")},
           |${pick(0.9, "p90_fp")},
           |${pick(0.99, "p99_fp")}
           |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin
      },

      "q_dp_counts" -> {
        import OracleGen.hashSql
        def tz(h: String) = s"bit_count((($h | 1048576) & -($h | 1048576)) - 1)"
        val ha = hashSql("(c_mktsegment || '|release-2026-08-r8|a')")
        val hb = hashSql("(c_mktsegment || '|release-2026-08-r8|b')")
        s"""WITH g AS (SELECT c_mktsegment, count(*) AS n FROM customer GROUP BY 1),
           |nz AS (SELECT c_mktsegment, n, $ha AS ha, $hb AS hb FROM g)
           |SELECT c_mktsegment,
           |CAST(n + (${tz("ha")} - ${tz("hb")}) AS BIGINT) AS released
           |FROM nz ORDER BY c_mktsegment""".stripMargin
      },

      "q_lake_merge" -> lakeMergeOracleSql,

      // Streamed CDC apply ≡ the one-shot batch merge, verbatim.
      "q_lake_merge_stream" -> lakeMergeOracleSql,

      "q_csv_roundtrip" ->
        """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
          |FROM customer ORDER BY c_custkey""".stripMargin,

      "q_orc_roundtrip" ->
        """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
          |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

      "q_json_roundtrip" ->
        """SELECT event_id, event_type, props, epoch_us(ts) AS tus
          |FROM events ORDER BY event_id""".stripMargin,

      "q_events_sliding" -> slidingOracleSql,

      // Streamed sliding windows ≡ batch, verbatim.
      "q_events_sliding_stream" -> slidingOracleSql,

      "q_events_session_native" -> sessionNativeOracleSql,

      // Engine-merged streaming sessions ≡ batch, verbatim.
      "q_events_session_stream" -> sessionNativeOracleSql,

      "q_triangles" ->
        """WITH d AS (SELECT doc_id FROM documents),
          |mx AS (SELECT max(doc_id) + 1 AS n FROM d),
          |e0 AS (SELECT doc_id AS src, (doc_id*7 + 1) % n AS dst FROM d, mx
          |       UNION ALL SELECT doc_id, (doc_id*13 + 2) % n FROM d, mx
          |       UNION ALL SELECT doc_id, (doc_id*29 + 5) % n FROM d, mx),
          |sym AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
          |        FROM e0 WHERE src <> dst)
          |SELECT CAST(count(*) AS BIGINT) AS n_triangles
          |FROM sym e1 JOIN sym e2 ON e2.u = e1.v
          |JOIN sym e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin,

      "q_outliers" ->
        """WITH ev AS (SELECT event_id, event_type,
          |  CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS fp FROM events),
          |m AS (SELECT event_type, count(*) AS n, CAST(sum(fp) AS BIGINT) AS s,
          |      CAST(sum(fp * fp) AS BIGINT) AS q FROM ev GROUP BY event_type)
          |SELECT event_id, ev.event_type, fp
          |FROM ev JOIN m ON ev.event_type = m.event_type
          |WHERE (CAST(n AS HUGEINT) * fp - s) * (CAST(n AS HUGEINT) * fp - s)
          |      > 9 * (CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s)
          |ORDER BY event_id""".stripMargin,

      // Expectations replay: each rule a conditional count over one scan
      // (NULL predicate = fail via coalesce), FK orphans via anti-join.
      "q_data_expectations" ->
        """WITH r AS (
          |  SELECT 'qty_range' AS rule, count(*) AS n_rows,
          |    sum(CASE WHEN coalesce(l_quantity BETWEEN 1 AND 50, false) THEN 0 ELSE 1 END) AS n_fail FROM lineitem
          |  UNION ALL
          |  SELECT 'returnflag_domain', count(*),
          |    sum(CASE WHEN coalesce(l_returnflag IN ('A', 'N', 'R'), false) THEN 0 ELSE 1 END) FROM lineitem
          |  UNION ALL
          |  SELECT 'positive_price', count(*),
          |    sum(CASE WHEN coalesce(l_extendedprice > 0, false) THEN 0 ELSE 1 END) FROM lineitem
          |  UNION ALL
          |  SELECT 'discount_range', count(*),
          |    sum(CASE WHEN coalesce(l_discount BETWEEN 0 AND 0.1, false) THEN 0 ELSE 1 END) FROM lineitem
          |  UNION ALL
          |  SELECT 'fk_lineitem_orders', (SELECT count(*) FROM lineitem),
          |    (SELECT count(*) FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
          |     WHERE o.o_orderkey IS NULL))
          |SELECT rule, CAST(n_rows AS BIGINT) AS n_rows, CAST(n_fail AS BIGINT) AS n_fail
          |FROM r ORDER BY rule""".stripMargin,

      // Streamed rules: the four row rules only (the FK anti-join needs
      // the full parent, so it stays a batch responsibility).
      "q_data_expectations_stream" ->
        """WITH r AS (
          |  SELECT 'qty_range' AS rule, count(*) AS n_rows,
          |    sum(CASE WHEN coalesce(l_quantity BETWEEN 1 AND 50, false) THEN 0 ELSE 1 END) AS n_fail FROM lineitem
          |  UNION ALL
          |  SELECT 'returnflag_domain', count(*),
          |    sum(CASE WHEN coalesce(l_returnflag IN ('A', 'N', 'R'), false) THEN 0 ELSE 1 END) FROM lineitem
          |  UNION ALL
          |  SELECT 'positive_price', count(*),
          |    sum(CASE WHEN coalesce(l_extendedprice > 0, false) THEN 0 ELSE 1 END) FROM lineitem
          |  UNION ALL
          |  SELECT 'discount_range', count(*),
          |    sum(CASE WHEN coalesce(l_discount BETWEEN 0 AND 0.1, false) THEN 0 ELSE 1 END) FROM lineitem)
          |SELECT rule, CAST(n_rows AS BIGINT) AS n_rows, CAST(n_fail AS BIGINT) AS n_fail
          |FROM r ORDER BY rule""".stripMargin,

      // TWAP replay: identical lead() gaps under the (ts, event_id) total
      // order, BIGINT weighted sum / duration / integer quotient.
      "q_events_twap" ->
        """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
          |  CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS cents FROM events),
          |g AS (SELECT user_id, cents,
          |  lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) - ts_us AS dt
          |  FROM ev),
          |a AS (SELECT user_id, CAST(sum(cents * dt) AS BIGINT) AS weighted_sum,
          |             CAST(sum(dt) AS BIGINT) AS duration
          |      FROM g WHERE dt IS NOT NULL GROUP BY user_id)
          |SELECT user_id, weighted_sum, duration,
          |       CAST(weighted_sum // duration AS BIGINT) AS twap_fp
          |FROM a ORDER BY user_id""".stripMargin,

      // PSI replay: identical binning (floor division, clamped), add-one
      // smoothing, single-ln per-bin contribution rounded to nano-units.
      "q_stats_psi" -> psiOracleSql,

      // Streamed through a Complete-mode running-count aggregation against
      // the frozen reference histogram — same totals, same contract.
      "q_stats_psi_stream" -> psiOracleSql,

      // Per-day-window PSI against the same frozen reference: each
      // emitted window carries the full reference bin set (outer-joined
      // with its own current counts) and its OWN smoothing totals —
      // exactly the per-group batch replay below. Day windows are
      // epoch-aligned UTC on both engines.
      "q_stats_psi_windowed" ->
        """WITH ev AS (SELECT event_id, epoch_us(ts) AS tus,
          |            CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS cents
          |            FROM events),
          |mx AS (SELECT max(event_id) // 2 AS s FROM ev),
          |ref AS (SELECT least(greatest(cents, 0) // 4000, 15) AS bin,
          |        CAST(count(*) AS BIGINT) AS a_cnt
          |        FROM ev, mx WHERE event_id <= s GROUP BY 1),
          |cur AS (SELECT (tus // 86400000000) * 86400000000 AS win_us,
          |        least(greatest(cents, 0) // 4000, 15) AS bin,
          |        CAST(count(*) AS BIGINT) AS b_cnt
          |        FROM ev, mx WHERE event_id > s GROUP BY 1, 2),
          |refw AS (SELECT win_us, bin, a_cnt FROM (SELECT DISTINCT win_us FROM cur), ref),
          |counts AS (SELECT coalesce(refw.win_us, cur.win_us) AS win_us,
          |           coalesce(refw.bin, cur.bin) AS bin,
          |           coalesce(a_cnt, 0) AS a_cnt, coalesce(b_cnt, 0) AS b_cnt
          |           FROM refw FULL OUTER JOIN cur
          |             ON refw.win_us = cur.win_us AND refw.bin = cur.bin),
          |tot AS (SELECT win_us, sum(a_cnt) AS ta, sum(b_cnt) AS tb FROM counts GROUP BY 1)
          |SELECT counts.win_us, bin, a_cnt, b_cnt,
          |  CAST(floor((CAST(a_cnt + 1 AS DOUBLE) / (ta + 16) - CAST(b_cnt + 1 AS DOUBLE) / (tb + 16))
          |    * (ln(CAST(a_cnt + 1 AS DOUBLE) / (ta + 16)) - ln(CAST(b_cnt + 1 AS DOUBLE) / (tb + 16)))
          |    * 1e9 + 0.5) AS BIGINT) AS contrib_nano
          |FROM counts JOIN tot USING (win_us) ORDER BY win_us, bin""".stripMargin,


      // Rolling window twin: the same cleared z-test over the 10-preceding
      // frame (sums fit BIGINT at the bounded cents domain — asserted by
      // the Spark side sharing the arithmetic). Empty-frame sums are NULL
      // on both engines; n >= 5 short-circuits them to false identically.
      "q_events_rolling_outlier" ->
        """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
          |  CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS v FROM events),
          |s AS (SELECT event_id, user_id, v,
          |  count(*) OVER wnd AS n, sum(v) OVER wnd AS s1, sum(v * v) OVER wnd AS s2
          |  FROM ev WINDOW wnd AS (PARTITION BY user_id ORDER BY ts_us, event_id
          |                         ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
          |SELECT event_id, user_id,
          |  coalesce(n >= 5 AND (v * n - s1) * (v * n - s1) > 9 * (n * s2 - s1 * s1), false) AS is_outlier
          |FROM s ORDER BY event_id""".stripMargin,

      // Streamed through the per-key state machine — same contract.
      "q_events_rolling_outlier_stream" ->
        """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
          |  CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS v FROM events),
          |s AS (SELECT event_id, user_id, v,
          |  count(*) OVER wnd AS n, sum(v) OVER wnd AS s1, sum(v * v) OVER wnd AS s2
          |  FROM ev WINDOW wnd AS (PARTITION BY user_id ORDER BY ts_us, event_id
          |                         ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
          |SELECT event_id, user_id,
          |  coalesce(n >= 5 AND (v * n - s1) * (v * n - s1) > 9 * (n * s2 - s1 * s1), false) AS is_outlier
          |FROM s ORDER BY event_id""".stripMargin,

      "q_full_outer" ->
        """WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 0),
          |o AS (SELECT o_custkey, count(*) AS n_orders,
          |      CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |      FROM orders GROUP BY o_custkey)
          |SELECT coalesce(c_custkey, o_custkey) AS custkey, c_name, n_orders, total
          |FROM c FULL JOIN o ON c_custkey = o_custkey
          |ORDER BY custkey""".stripMargin,

      "q_cube" ->
        """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
          |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
          |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

      "q_dp_sums" -> {
        import OracleGen.hashSql
        def tz(h: String) = s"bit_count((($h | 1048576) & -($h | 1048576)) - 1)"
        val ha = hashSql("(event_type || '|release-2026-08-r8|a')")
        val hb = hashSql("(event_type || '|release-2026-08-r8|b')")
        s"""WITH pu AS (SELECT event_type, user_id,
           |  least(greatest(CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS BIGINT), 0), 10000) AS c
           |  FROM events GROUP BY 1, 2),
           |g AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS s FROM pu GROUP BY 1),
           |nz AS (SELECT event_type, s, $ha AS ha, $hb AS hb FROM g)
           |SELECT event_type,
           |CAST(10000 * (((s + 5000) // 10000) + (${tz("ha")} - ${tz("hb")})) AS BIGINT) AS released_fp
           |FROM nz ORDER BY event_type""".stripMargin
      },

      "q_scd2_build" ->
        """WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
          |  CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS cents
          |  FROM events WHERE event_type = 'purchase')
          |SELECT user_id, event_id, cents, tus AS valid_from,
          |lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) - 1 AS valid_to,
          |CAST(CASE WHEN lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) IS NULL
          |     THEN 1 ELSE 0 END AS BIGINT) AS is_current
          |FROM p ORDER BY user_id, valid_from, event_id""".stripMargin,

      "q_cdc_latest" ->
        """SELECT user_id, CAST(tus AS DOUBLE) AS tus, event_id, rnk FROM (
          |  SELECT user_id, tus, event_id,
          |    row_number() OVER (PARTITION BY user_id ORDER BY tus DESC, event_id) AS rnk
          |  FROM (SELECT user_id, epoch_us(ts) AS tus, event_id FROM events))
          |WHERE rnk <= 1 ORDER BY user_id""".stripMargin,

      "q_fuzzy_join" ->
        s"""WITH $fuzzyCte
           |SELECT key_a, key_b, name_a, name_b,
           |CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
           |FROM cand ORDER BY key_a, key_b""".stripMargin,

      "q_entity_resolution" ->
        s"""WITH RECURSIVE $fuzzyCte,
           |edges AS (SELECT key_a AS a, key_b AS b FROM cand
           |          UNION SELECT key_b, key_a FROM cand),
           |reach(a, b) AS (SELECT DISTINCT a, a FROM edges
           |                UNION
           |                SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
           |rep AS (SELECT a AS node, min(b) AS cluster_rep FROM reach GROUP BY a),
           |canonmap AS (SELECT d.nm, d2.nm AS canon_name
           |  FROM dict d LEFT JOIN rep ON d.nk = rep.node
           |  JOIN dict d2 ON coalesce(rep.cluster_rep, d.nk) = d2.nk)
           |SELECT p_partkey, p_name, canon_name
           |FROM part JOIN canonmap ON p_name = canonmap.nm
           |ORDER BY p_partkey""".stripMargin
    )
  }

  // ---------------------------------------------------------------------
  // LLM-data-pipeline operators: dedup, similarity search, text analysis.
  // ---------------------------------------------------------------------
  import graft.operators.{Dedup, Sampling, Similarity, TextAnalysis}

  private def pipelineQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: hash-groupBy on content.
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactDuplicates(t(s, dir, "documents"), "text", "doc_id").orderBy("text_hash")),

    // n-gram Jaccard near-dup via shingle inverted index.
    "q_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id", n = 3, threshold = 0.8)
        .orderBy("doc_a", "doc_b")),

    // EXACT-threshold set-similarity join (AllPairs/PPJoin prefix filter):
    // every word-trigram-set pair with Jaccard ≥ 0.6, no probabilistic
    // recall loss — the deterministic complement to the MinHash gate. The
    // oracle brute-forces all pairs; the prefix-filtered plan must equal it.
    "q_jaccard_join" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.jaccardJoinExact(
          d.select(col("doc_id"), Dedup.wordNgrams(col("text"), 3).as("bg")),
          "bg", "doc_id", thresholdMilli = 600)
        .orderBy("doc_a", "doc_b")
    }),

    // Serving form of the exact set-similarity join: even docs persisted
    // as a prefix-filter index (frozen element order, bucketed postings +
    // fullsets), odd docs probe it with two partition-pruned reads. The
    // cross-split brute force is the oracle — serving must lose nothing.
    "q_jaccard_serve" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), Dedup.wordNgrams(col("text"), 3).as("bg"))
      // Read-only serve: build shared (GateCache) with q_jaccard_serve_stream.
      val tmp = graft.GateCache.dir(s"jacidx_even600:$dir")(p =>
        Dedup.persistJaccardIndex(
          d.where(col("doc_id") % 2 === 0), "bg", "doc_id", p, thresholdMilli = 600))
      Dedup.matchVsJaccardIndex(d.where(col("doc_id") % 2 === 1), "bg", "doc_id", tmp)
        .orderBy("doc_id", "matched_id")
    }),

    // EXCISED serving variant: boilerplate excision composed AHEAD of the
    // prefix index — elements in > max(1, ⌊0.01·N⌋) of the indexed docs
    // are dropped from every set at build (hot set frozen beside the
    // dictionary) AND from every probe set, so sizes/prefixes/
    // intersections all live in the same excised universe. The oracle
    // brute-forces exact Jaccard over the SAME excised sets — candidate
    // mass collapses (the hostile-skew ladder's residual), results lose
    // nothing the semantics don't define away.
    "q_jaccard_serve_excised" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), Dedup.wordNgrams(col("text"), 3).as("bg"))
      val tmp = graft.GateCache.dir(s"jacidx_even600x01:$dir")(p =>
        Dedup.persistJaccardIndex(
          d.where(col("doc_id") % 2 === 0), "bg", "doc_id", p, thresholdMilli = 600,
          exciseBoilerplateFrac = Some(0.01)))
      Dedup.matchVsJaccardIndex(d.where(col("doc_id") % 2 === 1), "bg", "doc_id", tmp)
        .orderBy("doc_id", "matched_id")
    }),

    // HOT-SET REFRESH flow: the frozen boilerplate set is the fourth
    // frozen artifact, and like the dictionary it decays — boilerplate
    // arriving AFTER the build is invisible to it. Build an excised
    // index on the %4==0 quarter (hot set frozen there), append the
    // %4==2 quarter (frozen-set excision only), then compact with
    // refresh=Always: the rewrite re-evaluates hotness against the LIVE
    // corpus under the build's frozen fraction, excises the newly-hot
    // tokens from postings AND fullsets, and installs the updated
    // (monotone: old ∪ new) hot set in the same atomic generation. The
    // odd-docs probe must equal exact Jaccard over sets excised by the
    // FULL updated hot set — the oracle replays both cutoff rounds.
    "q_jaccard_excise_refresh" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), Dedup.wordNgrams(col("text"), 3).as("bg"))
      val tmp = graft.GateCache.dir(s"jacidx_mod4_excref:$dir") { p =>
        Dedup.persistJaccardIndex(
          d.where(col("doc_id") % 4 === 0), "bg", "doc_id", p, thresholdMilli = 600,
          exciseBoilerplateFrac = Some(0.01))
        Dedup.persistJaccardIndex(
          d.where(col("doc_id") % 4 === 2), "bg", "doc_id", p, thresholdMilli = 600,
          append = true)
        Dedup.compactJaccardIndex(s, p, refresh = Dedup.RefreshMode.Always)
      }
      Dedup.matchVsJaccardIndex(d.where(col("doc_id") % 2 === 1), "bg", "doc_id", tmp)
        .orderBy("doc_id", "matched_id")
    }),

    // MinHash + LSH banding with exact-Jaccard verification. 4 bands × 8
    // rows targets the near-dup regime (s-curve knee ≈ 0.84): on this
    // vocabulary-dense corpus shorter bands collide on the globally-minimal
    // common shingles and candidate counts explode quadratically.
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minHashLshPairs(t(s, dir, "documents"), "text", "doc_id",
          n = 3, numHashes = 32, bands = 4, threshold = 0.8)
        .orderBy("doc_a", "doc_b")),

    // Same pipeline forced through the SHUFFLED verification path (the
    // no-broadcast-bound formulation) — must match the broadcast kernel's
    // oracle bit-for-bit.
    "q_dedup_minhash_shuffle" -> ((s, dir) =>
      Dedup.minHashLshPairs(t(s, dir, "documents"), "text", "doc_id",
          n = 3, numHashes = 32, bands = 4, threshold = 0.8, verify = Dedup.VerifyMode.Shuffle)
        .orderBy("doc_a", "doc_b")),

    // 32-bit SimHash fingerprints.
    "q_dedup_simhash" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), Dedup.simHash32(col("text")).as("simhash"))
        .orderBy("doc_id")),

    // Hamming-close fingerprint pairs via pigeonhole banding (sub-quadratic;
    // provably the same result set as all-pairs — the oracle IS all-pairs).
    "q_dedup_simhash_pairs" -> ((s, dir) => {
      val fps = t(s, dir, "documents").select(col("doc_id"), Dedup.simHash32(col("text")).as("fp"))
      Dedup.simHashPairsBanded(fps, "doc_id", "fp", maxHamming = 3)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("doc_a", "doc_b")
    }),

    // Embedding-cosine near-duplicate pairs (brute-force baseline).
    "q_embed_neardup" -> ((s, dir) =>
      Dedup.embeddingNearDuplicates(t(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.4)
        .orderBy("id_a", "id_b")),

    // LSH-bucketed embedding near-dup — the scale path (no corpus
    // broadcast); oracle replicates the hyperplane buckets exactly.
    "q_embed_neardup_lsh" -> ((s, dir) =>
      Dedup.embeddingNearDuplicatesLsh(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.4, numPlanes = 8)
        .orderBy("id_a", "id_b")),

    // SemDeDup: IVF cell (pinned quantizer) → within-cell cosine near-dup
    // → transitive clusters → keep the farthest-from-centroid member.
    // The oracle replays cell assignment, the cell-restricted pair scan,
    // the connected components, and the centroid-cosine keep rule.
    "q_embed_semdedup" -> ((s, dir) =>
      Dedup.semDeDup(t(s, dir, "embeddings"), "vec_id", "embedding",
          graft.operators.IvfPinned.centroids, threshold = 0.4)
        .select("vec_id")
        .orderBy("vec_id")),

    // Brute-force cosine top-k (query set = vec_id < 5).
    "q_knn_bruteforce" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.where("vec_id < 5"), "vec_id", "embedding", k = 10)
        .orderBy("query_id", "rnk")
    }),

    // Product quantization, two-stage serving: ADC shortlist (m-lookup
    // scoring over 8-int codes — the ×32 memory-bound compression past
    // int8's ×4) then exact rescore of the shortlist. The shortlist is
    // sized so the approximate stage decides only WHICH pairs get exact
    // scores, never the ranking — the gate therefore pins the whole
    // train/encode/LUT/ADC/rescore pipeline to the exact brute-force
    // oracle (codebook-independent by construction; the ADC stage's
    // recall/compression tradeoff is measured in PqSpec + PqSoak, not
    // assumed). pqTrain is deterministic (hash-sampled, id-ordered, no
    // RNG), so the gate replays bit-identically.
    "q_knn_pq_adc" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = Similarity.pqTrain(emb, "vec_id", "embedding", m = 16, k = 64)
      Similarity.pqAdcTopK(emb, emb.where("vec_id < 5"), "vec_id", "embedding", model,
          k = 10, shortlist = 128)
        .orderBy("query_id", "rnk")
    }),

    // IVF-PQ: coarse quantizer (pinned centroids) prunes cells, fine
    // quantizer scores by ADC, exact rescore — the standard
    // billion-vector serving layout. Probed exhaustively (nprobe =
    // nlist) with a generous shortlist so the result pins to the exact
    // oracle through the CELLED path (cell assignment + per-cell ADC +
    // rescore all exercised); the pruned-probe cost/recall story is
    // spec'd (PqSpec) and soak-measured, mirroring how q_knn_ivf_full /
    // q_knn_ivf_probe split exactness and pruning.
    "q_knn_ivf_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = Similarity.pqTrain(emb, "vec_id", "embedding", m = 16, k = 64)
      Similarity.ivfPqTopK(emb, emb.where("vec_id < 5"), "vec_id", "embedding",
          graft.operators.IvfPinned.centroids, model, k = 10,
          nprobe = graft.operators.IvfPinned.nlist, shortlist = 128)
        .orderBy("query_id", "rnk")
    }),

    // PERSISTED IVF-PQ serving — the production layout end-to-end: codes
    // and decoded norms stored cell-partitioned beside the vectors,
    // codebooks as a _graft_pq artifact, stage-1 ADC reading ONLY the
    // thin code columns (PlanAuditSpec pins the read schema), exact
    // rescore touching `vec` for the shortlist alone. Exhaustive probe +
    // generous shortlist → the exact oracle, codebook-independent;
    // build shared via GateCache (read-only probe).
    "q_knn_ivf_pq_serve" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = graft.GateCache.dir(s"ivfpqidx_full:$dir") { p =>
        val model = Similarity.pqTrain(emb, "vec_id", "embedding", m = 16, k = 64)
        Similarity.persistIvfPqIndex(emb, "vec_id", "embedding",
          graft.operators.IvfPinned.centroids, model, p)
      }
      Similarity.ivfPqTopKFromPersisted(s, idx, emb.where("vec_id < 5"), "vec_id", "embedding",
          k = 10, nprobe = graft.operators.IvfPinned.nlist, shortlist = 128)
        .orderBy("query_id", "rnk")
    }),

    // PQ CODEBOOK REFRESH on compact — the last frozen artifact's drift
    // cure, end-to-end: build IVF-PQ on the lower half (codebooks trained
    // there), append the upper half encoded under the FROZEN books,
    // tombstone % 3, then compactIvfIndex(pqRefresh = Always) — pqTrain
    // re-runs on the survivors and every row re-encodes riding the
    // rewrite, with a fresh drift baseline recorded. The exhaustive
    // probe's exact rescore makes the ranking CODEBOOK-independent:
    // whatever books the refresh learned, serving must equal the exact
    // top-k over the survivors (PqSoak measures the recall the refresh
    // buys; this gate pins that it never costs correctness).
    "q_knn_ivf_pq_maintain" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val mid = emb.agg(max(col("vec_id").cast("long"))).head.getLong(0) / 2
      val tmp = graft.GateCache.privateCopy(s"ivfpqidx_2seg:$dir") { p =>
        val lower = emb.where(col("vec_id") <= mid)
        val model = Similarity.pqTrain(lower, "vec_id", "embedding", m = 16, k = 64)
        Similarity.persistIvfPqIndex(lower, "vec_id", "embedding",
          graft.operators.IvfPinned.centroids, model, p)
        Similarity.appendToIvfIndex(emb.where(col("vec_id") > mid), "vec_id", "embedding", p)
      }
      Dedup.deleteFromPersistedIndex(emb.where(col("vec_id") % 3 === 0).select("vec_id"), "vec_id", tmp)
      Similarity.compactIvfIndex(s, tmp, pqRefresh = Similarity.PqRefreshMode.Always)
      Similarity.ivfPqTopKFromPersisted(s, tmp, emb.where("vec_id < 5"), "vec_id", "embedding",
          k = 10, nprobe = Similarity.ivfIndexNlist(s, tmp), shortlist = 128)
        .orderBy("query_id", "rnk")
    }),

    // Hard-negative mining for contrastive training: per query, top-10
    // corpus rows by cosine INSIDE the band [0.05, 0.35) — informative
    // negatives below the near-dup threshold (0.4 in the embed_neardup
    // gates). Exact form; the oracle is the banded brute-force scan.
    "q_mine_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.mineHardNegatives(emb, emb.where("vec_id < 5"), "vec_id", "embedding",
          k = 10, minCos = 0.05, maxCos = 0.35)
        .orderBy("query_id", "rnk")
    }),

    // The same mining restricted to each query's 8 closest of 16 pinned
    // IVF cells — the corpus-scale form (scored join touches nprobe/nlist
    // of the corpus). The oracle replays cell assignment, the 8-cell probe
    // set, and the banded ranking bit-for-bit.
    "q_mine_hard_negatives_celled" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.mineHardNegativesCelled(emb, emb.where("vec_id < 5"), "vec_id", "embedding",
          k = 10, minCos = 0.05, maxCos = 0.35, graft.operators.IvfPinned.centroids, nprobe = 8)
        .orderBy("query_id", "rnk")
    }),

    // MMR diversified rerank (λ = 0.7): greedy relevance-minus-redundancy
    // selection of 5 from each query's 20-candidate pool, every cosine
    // quantized to integer pico-units BEFORE the greedy so the argmax
    // compares integers on both engines. Oracle = recursive-CTE replay of
    // the identical integer greedy.
    "q_mmr_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.mmrRerank(emb, emb.where("vec_id < 5"), "vec_id", "embedding",
          poolK = 20, selectK = 5)
        .orderBy("query_id", "rnk")
    }),

    // IVF ANN with every cell probed: candidate set == whole corpus, so
    // the result must EQUAL the exact brute-force oracle — pins the
    // quantizer training + assignment + probe plumbing to exactness.
    "q_knn_ivf_full" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.where("vec_id < 5"), "vec_id", "embedding", k = 10, nlist = 8, nprobe = 8)
        .orderBy("query_id", "rnk")
    }),

    // IVF ANN in its SERVING configuration (nprobe ≪ nlist): the frozen
    // quantizer (IvfPinned — trained offline by tools.TrainIvf, retraining
    // reproducibility spec-pinned) assigns the corpus in one scan; each
    // query scores only its 4 closest of 16 cells. The oracle embeds the
    // identical frozen centroids and replays assignment + probe selection
    // + ranking bit-for-bit.
    "q_knn_ivf_probe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopKWith(emb, emb.where("vec_id < 5"), "vec_id", "embedding", k = 10,
          graft.operators.IvfPinned.centroids, nprobe = 4)
        .orderBy("query_id", "rnk")
    }),

    // ANN SERVING from a persisted cell-partitioned index: the corpus is
    // written once parquet-partitioned by IVF cell (centroids stored
    // beside it), and the probe reads ONLY its nprobe cells' partition
    // directories — build-once/serve-forever with partition pruning, the
    // 100-TB ANN shape. Same oracle as q_knn_ivf_probe: the disk round
    // trip and pruning must not change one rank.
    "q_knn_ivf_serve" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // Read-only serve: build shared (GateCache) with q_knn_ivf_serve_stream.
      val tmp = graft.GateCache.dir(s"ivfidx_full:$dir")(p =>
        Similarity.persistIvfIndex(emb, "vec_id", "embedding",
          graft.operators.IvfPinned.centroids, p))
      Similarity.ivfTopKFromPersisted(s, tmp, emb.where("vec_id < 5"), "vec_id", "embedding",
          k = 10, nprobe = 4)
        .orderBy("query_id", "rnk")
    }),

    // Incremental ANN ingest: the index is built from HALF the corpus,
    // the other half APPENDS into its cell partitions against the frozen
    // centroids (no rewrite, no re-cluster), and the probe must rank
    // exactly as if the whole corpus had been indexed at once — oracle
    // identical to q_knn_ivf_serve.
    "q_knn_ivf_append" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val mid = emb.agg(max(col("vec_id").cast("long"))).head.getLong(0) / 2
      val tmp = java.nio.file.Files.createTempDirectory("ivf_idx_app_").toString
      Similarity.persistIvfIndex(emb.where(col("vec_id") <= mid), "vec_id", "embedding",
        graft.operators.IvfPinned.centroids, tmp)
      Similarity.appendToIvfIndex(emb.where(col("vec_id") > mid), "vec_id", "embedding", tmp)
      Similarity.ivfTopKFromPersisted(s, tmp, emb.where("vec_id < 5"), "vec_id", "embedding",
          k = 10, nprobe = 4)
        .orderBy("query_id", "rnk")
    }),

    // The composition a 100-TB embedding store actually serves: the corpus
    // is PERSISTED int8-quantized (4× smaller scan), dequantized at scoring
    // time, and searched via IVF probe (nprobe ≪ nlist, pinned centroids).
    // Full-precision queries against a quantized corpus. The oracle replays
    // quantize → dequantize per vector (incl. the float-cast rounding of
    // dequantizeInt8) and then the cell-assignment + probe + rank pipeline.
    "q_knn_ivf_quantized" -> ((s, dir) => {
      val emb    = t(s, dir, "embeddings")
      val stored = emb.select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("qz"))
      val corpus = stored.select(col("vec_id"), Similarity.dequantizeInt8(col("qz")).as("embedding"))
      Similarity.ivfTopKWith(corpus, emb.where("vec_id < 5"), "vec_id", "embedding", k = 10,
          graft.operators.IvfPinned.centroids, nprobe = 4)
        .orderBy("query_id", "rnk")
    }),

    // LSH-bucketed ANN (scale path) — deterministic hyperplanes; rows-only
    // check (bucketing is approximate by design, not SQL-expressible
    // succinctly).
    "q_knn_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.where("vec_id < 5"), "vec_id", "embedding", k = 5, numPlanes = 8)
        .orderBy("query_id", "rnk")
    }),

    // ANN evaluation: recall@5 of the single-probe LSH retriever against
    // the exact ranking, per query, as integers (n_hits of n_exact) — the
    // meter for every recall/latency knob. Oracle composes both chains
    // and counts the intersection.
    "q_knn_recall_eval" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs  = emb.where("vec_id < 5")
      Similarity.recallAtK(
          Similarity.lshTopK(emb, qs, "vec_id", "embedding", k = 5, numPlanes = 8),
          Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", k = 5))
        .orderBy("query_id")
    }),

    // Multi-probe variant: each query also probes the numPlanes buckets one
    // hyperplane-flip away — the recall knob. Oracle replicates the probe
    // set exactly.
    "q_knn_lsh_multiprobe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.where("vec_id < 5"), "vec_id", "embedding", k = 5, numPlanes = 8,
          probeHamming1 = true)
        .orderBy("query_id", "rnk")
    }),

    // Transitive duplicate clusters (connected components over near-dup
    // pairs) — the "keep one per cluster" half of dedup.
    "q_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id", n = 3, threshold = 0.8)
      Dedup.duplicateClusters(pairs).orderBy("node")
    }),

    // Same pairs, same oracle, but FORCING the distributed pointer-jumping
    // min-label propagation (ClusterMode.Distributed) — the path that
    // actually runs past ClusterMode.Auto's 10M-edge budget at 100-TB edge
    // counts. At gate scale Auto always routes through the driver
    // union-find, so without this gate the scale path would never be
    // driver-hashed (the exact gap q_dedup_minhash_shuffle closed for
    // VerifyMode).
    "q_dedup_clusters_distributed" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id", n = 3, threshold = 0.8)
      Dedup.duplicateClusters(pairs, mode = Dedup.ClusterMode.Distributed).orderBy("node")
    }),

    // Content-defined chunking (unbounded form — stateless per position,
    // exactly SQL-replayable; min/max bounds are spec-checked).
    "q_text_cdc_chunks" -> ((s, dir) =>
      graft.operators.TextAnalysis.cdcChunks(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id", "chunk_idx")),

    // Quality-aware cluster dedup: keep each near-dup family's
    // highest-scoring member (score = text length here; ties → min id)
    // instead of the min-id one.
    "q_dedup_keep_best" -> ((s, dir) => {
      val docs  = t(s, dir, "documents").withColumn("q", length(col("text")).cast("long"))
      val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.8)
      Dedup.dedupByClustersKeepBest(docs, "doc_id", "q", Dedup.duplicateClusters(pairs))
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // The whole dedup workflow in one call: detect → cluster → keep one
    // representative per cluster.
    "q_dedup_corpus" -> ((s, dir) =>
      Dedup.deduplicateCorpus(t(s, dir, "documents"), "text", "doc_id", n = 3, threshold = 0.8)
        .select("doc_id").orderBy("doc_id")),

    // Boilerplate-EXCISED near-dup: shingles in > 20% of the corpus (on
    // character trigrams that is every common English fragment) are
    // dropped from every document's set BEFORE candidates and
    // verification, so similarity means "similar modulo boilerplate" —
    // the cure for the hostile-shingle premium (a shared header cannot
    // make two documents near-duplicates, nor flood the verifier). The
    // oracle replays the excision arithmetic (floor(frac·N) cutoff)
    // before the same capped-candidate/cluster machinery.
    "q_dedup_corpus_excise" -> ((s, dir) =>
      Dedup.deduplicateCorpus(t(s, dir, "documents"), "text", "doc_id", n = 3, threshold = 0.8,
          exciseBoilerplateFrac = Some(0.2))
        .select("doc_id").orderBy("doc_id")),

    // Duplicate-MASS robustness: a 200-copy hot class (every shingle far
    // over the maxShingleFreq=100 cap — a direct near-dup front is BLIND
    // to it, and uncapped it would emit 200²/2 candidate pairs) plus a
    // 1-in-5 exact-copy layer. The exact-collapse pre-stage must reduce
    // every class to its min-id canon before shingling; the oracle
    // replays collapse-then-capped-cluster over the canons.
    "q_dedup_corpus_dupheavy" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val hot = s.range(0, 200).toDF("i")
        .crossJoin(docs.where(col("doc_id") === 1).select(col("text")))
        .select((col("i") + 2000000L).as("doc_id"), col("text"))
      val copies = docs.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text"))
      Dedup.deduplicateCorpus(
          docs.unionByName(hot).unionByName(copies), "text", "doc_id", n = 3, threshold = 0.8)
        .select("doc_id").orderBy("doc_id")
    }),

    // The one-call workflow with clustering FORCED distributed — certifies
    // the whole pipeline through the code that runs past the 10M-edge
    // budget (same oracle as q_dedup_corpus; cluster mode never changes
    // the result, by construction).
    "q_dedup_corpus_distributed" -> ((s, dir) =>
      Dedup.deduplicateCorpus(t(s, dir, "documents"), "text", "doc_id", n = 3, threshold = 0.8,
          clusterMode = Dedup.ClusterMode.Distributed)
        .select("doc_id").orderBy("doc_id")),

    // Incremental dedup against a persisted signature index — the
    // daily-crawl shape: the first half of the corpus (by doc_id) is "the
    // existing corpus", represented ONLY by its compact (doc_id, sig)
    // index; the second half arrives as the new batch. Survivors = index
    // misses deduplicated among themselves (oracle replays the estimate
    // match + the adaptive within-batch cluster pipeline).
    "q_dedup_incremental" -> ((s, dir) => {
      val all = t(s, dir, "documents")
      val splitId = all.agg(max(col("doc_id").cast("long"))).head.getLong(0) / 2
      val res = Dedup.incrementalDedup(
        all.where(col("doc_id") > splitId), "text", "doc_id",
        Dedup.buildSignatureIndex(all.where(col("doc_id") <= splitId), "text", "doc_id"))
      res.survivors.select(col("doc_id")).orderBy("doc_id")
    }),

    // The match half of the same pipeline: which index doc each rejected
    // new doc collided with, and the (exact k/32) signature estimate.
    "q_dedup_incremental_matches" -> ((s, dir) => {
      val all = t(s, dir, "documents")
      val splitId = all.agg(max(col("doc_id").cast("long"))).head.getLong(0) / 2
      val res = Dedup.incrementalDedup(
        all.where(col("doc_id") > splitId), "text", "doc_id",
        Dedup.buildSignatureIndex(all.where(col("doc_id") <= splitId), "text", "doc_id"))
      res.matchedVsIndex
        .select(col("doc_id"), col("matched_id"),
          round(col("est_jaccard") * 32).cast("long").as("est_32"))
        .orderBy("doc_id", "matched_id")
    }),

    // The NIGHTLY LOOP over the persisted index: match increment 1,
    // APPEND its index misses' signatures to the index on disk (no
    // rewrite), then match increment 2 against the UPDATED index — an
    // increment-2 doc can match the original corpus OR an increment-1
    // survivor. This is the write-back contract a continuously-ingesting
    // 100-TB dedup runs every night; the oracle replays both rounds'
    // estimate matches.
    "q_dedup_index_append" -> ((s, dir) => {
      import graft.plans.Lineage
      val all = t(s, dir, "documents")
      val mx = all.agg(max(col("doc_id").cast("long"))).head.getLong(0)
      val (s1, s2) = (mx / 3, 2 * mx / 3)
      val tmp = java.nio.file.Files.createTempDirectory("graft_sigidx_app_").toString
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(all.where(col("doc_id") <= s1), "text", "doc_id"), tmp)
      val inc1 = all.where(col("doc_id") > s1 && col("doc_id") <= s2)
      // Materialized BEFORE the append: the append write must not race a
      // plan that still scans the index directory.
      val matched1 = Lineage.truncate(
        Dedup.matchVsPersistedIndex(inc1, "text", "doc_id", tmp)
          .select(col("doc_id").as("m_id")).distinct())
      val surv1 = inc1.join(matched1, inc1("doc_id").cast("long") === col("m_id"), "left_anti")
      Dedup.persistSignatureIndex(
        Dedup.buildSignatureIndex(surv1, "text", "doc_id"), tmp, append = true)
      Dedup.matchVsPersistedIndex(all.where(col("doc_id") > s2), "text", "doc_id", tmp)
        .select(col("doc_id"), col("matched_id"),
          round(col("est_jaccard") * 32).cast("long").as("est_32"))
        .orderBy("doc_id", "matched_id")
    }),

    // Persisted-index SERVING form of the same match stage: the index goes
    // to DISK in its band-partitioned form (parquet partitioned by
    // bucket = hash(band, key) % keyBuckets), is RELOADED from the path
    // alone (parameters from the stored meta), and the probe reads ONLY
    // the partitions the new batch's band keys hash to — the
    // build → parquet → reload → match round trip a 100-TB incremental
    // dedup serves from. Same oracle as q_dedup_incremental_matches: disk
    // round trip and partition pruning must not change a single row.
    "q_dedup_index_serve" -> ((s, dir) => {
      val all = t(s, dir, "documents")
      val splitId = all.agg(max(col("doc_id").cast("long"))).head.getLong(0) / 2
      // Read-only serve: the build is shared (GateCache) with the streaming
      // twin q_dedup_incremental_stream and the corpus pipeline gate.
      val tmp = graft.GateCache.dir(s"sigidx_half:$dir")(p =>
        Dedup.persistSignatureIndex(
          Dedup.buildSignatureIndex(all.where(col("doc_id") <= splitId), "text", "doc_id"), p))
      Dedup.matchVsPersistedIndex(all.where(col("doc_id") > splitId), "text", "doc_id", tmp)
        .select(col("doc_id"), col("matched_id"),
          round(col("est_jaccard") * 32).cast("long").as("est_32"))
        .orderBy("doc_id", "matched_id")
    }),

    // Right-to-be-forgotten on the persisted index: every doc_id ≡ 0
    // (mod 3) is tombstoned (O(|deleted|) logical delete — no index
    // partition rewritten; the probe anti-joins the broadcast tombstone
    // set), so the serve-time matches are exactly q_dedup_index_serve's
    // minus pairs whose matched side was deleted.
    "q_dedup_index_delete" -> ((s, dir) => {
      val all = t(s, dir, "documents")
      val splitId = all.agg(max(col("doc_id").cast("long"))).head.getLong(0) / 2
      // Mutating gate: copy-on-write from the shared pristine build
      // (byte-identical to a private build of the same inputs).
      val tmp = graft.GateCache.privateCopy(s"sigidx_half:$dir")(p =>
        Dedup.persistSignatureIndex(
          Dedup.buildSignatureIndex(all.where(col("doc_id") <= splitId), "text", "doc_id"), p))
      Dedup.deleteFromPersistedIndex(
        all.where(col("doc_id") % 3 === 0).select("doc_id"), "doc_id", tmp)
      Dedup.matchVsPersistedIndex(all.where(col("doc_id") > splitId), "text", "doc_id", tmp)
        .select(col("doc_id"), col("matched_id"),
          round(col("est_jaccard") * 32).cast("long").as("est_32"))
        .orderBy("doc_id", "matched_id")
    }),

    // COMPACTION closes the index lifecycle (build → append/delete →
    // compact): tombstoned docs are purged from the data, append segments
    // fold, the tombstone set drops — and the probe must return EXACTLY
    // what a fresh build on the surviving docs would (each compact gate
    // shares its family's delete-variant oracle verbatim; the delete gates
    // prove mask-correctness, these prove purge-correctness).
    // MAINTENANCE sweep as the lifecycle's scheduler: the index is built
    // in two append batches (segment pressure) over the SAME half the
    // delete oracle assumes, then a % 3 forget lands a tombstone mass
    // over the policy's 2% default, and ONE maintainIndexes call both
    // DECIDES (audit row: action, generation flipped, tombstone rows —
    // deterministic for this fixture, stated as literals by the oracle)
    // and compacts. The probe afterwards must replay the fresh-build-on-
    // survivors oracle verbatim — the sweep may never change serving
    // content, only cost.
    "q_index_maintain_flow" -> ((s, dir) => {
      import graft.operators.CorpusPipeline
      val all = t(s, dir, "documents")
      val splitId = all.agg(max(col("doc_id").cast("long"))).head.getLong(0) / 2
      val half = all.where(col("doc_id") <= splitId)
      // Mutating gate: copy-on-write from the shared pristine TWO-SEGMENT
      // build (evens built, odds appended — the segment pressure the
      // sweep must see), byte-identical to a private build+append.
      val tmp = graft.GateCache.privateCopy(s"sigidx_lower2seg:$dir") { p =>
        Dedup.persistSignatureIndex(
          Dedup.buildSignatureIndex(half.where(col("doc_id") % 2 === 0), "text", "doc_id"), p)
        Dedup.persistSignatureIndex(
          Dedup.buildSignatureIndex(half.where(col("doc_id") % 2 === 1), "text", "doc_id"), p,
          append = true)
      }
      Dedup.deleteFromPersistedIndex(
        all.where(col("doc_id") % 3 === 0).select("doc_id"), "doc_id", tmp)
      val audit = CorpusPipeline.maintainIndexes(s, Seq(tmp))
      // The audit travels in ITS OWN stable columns (action, generation) —
      // never smuggled into a probe column, so a compaction-cadence change
      // moves exactly the named audit cell it describes and the probe
      // columns keep pinning probe semantics. Probe rows carry sentinels
      // ('-', -1), not NULLs (engine-stable hashing).
      val auditRow = audit.select(
        lit("audit").as("surface"),
        col("action"),
        lit(graft.operators.IndexStore.currentGeneration(s, tmp).toLong).as("generation"),
        lit(-1L).as("probe_id"),
        lit(-1L).as("matched_id"),
        col("tombstone_rows").as("score"))
      val probe = Dedup.matchVsPersistedIndex(
          all.where(col("doc_id") > splitId), "text", "doc_id", tmp)
        .select(lit("sig").as("surface"), lit("-").as("action"),
          lit(-1L).as("generation"), col("doc_id").as("probe_id"), col("matched_id"),
          round(col("est_jaccard") * 32).cast("long").as("score"))
      auditRow.unionByName(probe).orderBy("surface", "probe_id", "matched_id", "score")
    }),

    // RETENTION flow — [[q_index_maintain_flow]]'s companion for the
    // OTHER storage lever: two forget+compact cycles retire two
    // generations, vacuumIndexes first HOLDS them under an age floor
    // (action 'none', zero bytes), then reclaims them under a
    // permissive policy (action 'vacuum'; byte totals are
    // fixture-sized, so the audit carries the DECISIONS and a
    // reclaimed>0 flag, not raw bytes) — and the probe afterwards is
    // the fresh-build-on-survivors oracle verbatim: retention moves
    // history, never serving.
    "q_index_vacuum_flow" -> ((s, dir) => {
      import graft.operators.{CorpusPipeline, IndexStore}
      val all = t(s, dir, "documents")
      val splitId = all.agg(max(col("doc_id").cast("long"))).head.getLong(0) / 2
      val half = all.where(col("doc_id") <= splitId)
      val tmp = graft.GateCache.privateCopy(s"sigidx_lower:$dir") { p =>
        Dedup.persistSignatureIndex(
          Dedup.buildSignatureIndex(half, "text", "doc_id"), p)
      }
      def cycle(mod: Long): Unit = {
        Dedup.deleteFromPersistedIndex(
          half.where(col("doc_id") % 3 === mod).select("doc_id"), "doc_id", tmp)
        Dedup.compactSignatureIndex(s, tmp, keepGens = 3)
      }
      cycle(0L); cycle(1L) // generations 1, 2 retired behind keepGens = 3
      val held = CorpusPipeline.vacuumIndexes(s, Seq(tmp),
        CorpusPipeline.IndexMaintenancePolicy(keepGenerations = 0, minRetentionMs = 3600000L))
      val fired = CorpusPipeline.vacuumIndexes(s, Seq(tmp),
        CorpusPipeline.IndexMaintenancePolicy(keepGenerations = 0))
      def auditRow(tag: String, r: org.apache.spark.sql.DataFrame) = r.select(
        lit(tag).as("surface"),
        col("action"),
        col("current_generation").as("generation"),
        lit(-1L).as("probe_id"), lit(-1L).as("matched_id"),
        when(col("reclaimable_bytes") > 0, 1L).otherwise(0L).as("score"))
      val probe = Dedup.matchVsPersistedIndex(
          all.where(col("doc_id") > splitId), "text", "doc_id", tmp)
        .select(lit("sig").as("surface"), lit("-").as("action"),
          lit(-1L).as("generation"), col("doc_id").as("probe_id"), col("matched_id"),
          round(col("est_jaccard") * 32).cast("long").as("score"))
      auditRow("audit_held", held).unionByName(auditRow("audit_vac", fired)).unionByName(probe)
        .orderBy("surface", "probe_id", "matched_id", "score")
    }),

    "q_dedup_index_compact" -> ((s, dir) => {
      val all = t(s, dir, "documents")
      val splitId = all.agg(max(col("doc_id").cast("long"))).head.getLong(0) / 2
      // Mutating gate: copy-on-write from the shared pristine build.
      val tmp = graft.GateCache.privateCopy(s"sigidx_half:$dir")(p =>
        Dedup.persistSignatureIndex(
          Dedup.buildSignatureIndex(all.where(col("doc_id") <= splitId), "text", "doc_id"), p))
      Dedup.deleteFromPersistedIndex(
        all.where(col("doc_id") % 3 === 0).select("doc_id"), "doc_id", tmp)
      Dedup.compactSignatureIndex(s, tmp)
      Dedup.matchVsPersistedIndex(all.where(col("doc_id") > splitId), "text", "doc_id", tmp)
        .select(col("doc_id"), col("matched_id"),
          round(col("est_jaccard") * 32).cast("long").as("est_32"))
        .orderBy("doc_id", "matched_id")
    }),

    // Fingerprint-index compaction, with the append half of the lifecycle
    // in the same gate: build evens, APPEND odds (multi-segment
    // partitions), tombstone every id ≡ 0 (mod 3), compact, probe with
    // the jittered twins — must equal a fresh full build minus the
    // deleted side (the phash serve oracle filtered).
    "q_fp_index_compact" -> ((s, dir) => {
      import graft.operators.Multimodal
      val d = t(s, dir, "documents").select(col("doc_id"))
      val withFp = d.select(col("doc_id"),
        Multimodal.imageDHash(Multimodal.syntheticPngTextured(col("doc_id"))).as("dh"))
      // Mutating gate: copy-on-write from the shared pristine two-segment
      // build (evens + appended odds).
      val tmp = graft.GateCache.privateCopy(s"fpidx_2seg:$dir") { p =>
        Dedup.persistFingerprintIndex(withFp.where(col("doc_id") % 2 === 0),
          "doc_id", "dh", p, maxHamming = 3, fpBits = 63)
        Dedup.persistFingerprintIndex(withFp.where(col("doc_id") % 2 === 1),
          "doc_id", "dh", p, maxHamming = 3, fpBits = 63, append = true)
      }
      Dedup.deleteFromPersistedIndex(
        d.where(col("doc_id") % 3 === 0).select("doc_id"), "doc_id", tmp)
      Dedup.compactFingerprintIndex(s, tmp)
      Dedup.matchVsFingerprintIndex(
          d.select((col("doc_id") + 10000000L).as("doc_id"),
            Multimodal.imageDHash(Multimodal.syntheticPngTexturedJittered(col("doc_id"))).as("dh")),
          "doc_id", "dh", tmp)
        .select(col("doc_id"), col("matched_id"), col("hamming").cast("long").as("hamming"))
        .orderBy("doc_id", "matched_id")
    }),

    // Jaccard prefix-index compaction: the frozen element order survives
    // the rewrite (pigeonhole correctness is order-independent, so the
    // compacted probe is exactly the serve oracle minus deleted-side
    // pairs).
    "q_jaccard_index_compact" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), Dedup.wordNgrams(col("text"), 3).as("bg"))
      // Mutating gate: copy-on-write from the shared pristine build.
      val tmp = graft.GateCache.privateCopy(s"jacidx_even600:$dir")(p =>
        Dedup.persistJaccardIndex(
          d.where(col("doc_id") % 2 === 0), "bg", "doc_id", p, thresholdMilli = 600))
      Dedup.deleteFromPersistedIndex(
        d.where(col("doc_id") % 3 === 0).select("doc_id"), "doc_id", tmp)
      Dedup.compactJaccardIndex(s, tmp)
      Dedup.matchVsJaccardIndex(d.where(col("doc_id") % 2 === 1), "bg", "doc_id", tmp)
        .orderBy("doc_id", "matched_id")
    }),

    // SELECTIVE compaction gates: the `% 3` compact gates above tombstone
    // so many docs that every partition is dirty and the compactor
    // (correctly) falls back to the full rewrite — these five delete a
    // SMALL id set (`% 97`, a handful of docs) so the dirty fraction is
    // low and the dirty-partition-only path actually runs: tombstoned
    // buckets rewritten, clean buckets manifest-carried into the new
    // generation. The probe must STILL equal a fresh build on the
    // survivors (each family's serve/delete oracle with the small filter)
    // — purge-exactness independent of which partitions were rewritten.
    "q_dedup_index_compact_sel" -> ((s, dir) => {
      val all = t(s, dir, "documents")
      val splitId = all.agg(max(col("doc_id").cast("long"))).head.getLong(0) / 2
      val tmp = graft.GateCache.privateCopy(s"sigidx_half:$dir")(p =>
        Dedup.persistSignatureIndex(
          Dedup.buildSignatureIndex(all.where(col("doc_id") <= splitId), "text", "doc_id"), p))
      Dedup.deleteFromPersistedIndex(
        all.where(col("doc_id") % 97 === 0).select("doc_id"), "doc_id", tmp)
      Dedup.compactSignatureIndex(s, tmp) // selective by default
      Dedup.matchVsPersistedIndex(all.where(col("doc_id") > splitId), "text", "doc_id", tmp)
        .select(col("doc_id"), col("matched_id"),
          round(col("est_jaccard") * 32).cast("long").as("est_32"))
        .orderBy("doc_id", "matched_id")
    }),

    "q_fp_index_compact_sel" -> ((s, dir) => {
      import graft.operators.Multimodal
      val d = t(s, dir, "documents").select(col("doc_id"))
      val tmp = graft.GateCache.privateCopy(s"fpidx_full:$dir")(p =>
        Dedup.persistFingerprintIndex(
          d.select(col("doc_id"),
            Multimodal.imageDHash(Multimodal.syntheticPngTextured(col("doc_id"))).as("dh")),
          "doc_id", "dh", p, maxHamming = 3, fpBits = 63))
      Dedup.deleteFromPersistedIndex(
        d.where(col("doc_id") % 97 === 0).select("doc_id"), "doc_id", tmp)
      Dedup.compactFingerprintIndex(s, tmp)
      Dedup.matchVsFingerprintIndex(
          d.select((col("doc_id") + 10000000L).as("doc_id"),
            Multimodal.imageDHash(Multimodal.syntheticPngTexturedJittered(col("doc_id"))).as("dh")),
          "doc_id", "dh", tmp)
        .select(col("doc_id"), col("matched_id"), col("hamming").cast("long").as("hamming"))
        .orderBy("doc_id", "matched_id")
    }),

    "q_jaccard_index_compact_sel" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), Dedup.wordNgrams(col("text"), 3).as("bg"))
      val tmp = graft.GateCache.privateCopy(s"jacidx_even600:$dir")(p =>
        Dedup.persistJaccardIndex(
          d.where(col("doc_id") % 2 === 0), "bg", "doc_id", p, thresholdMilli = 600))
      // % 96 keeps the deleted ids inside the indexed (even) half.
      Dedup.deleteFromPersistedIndex(
        d.where(col("doc_id") % 96 === 0).select("doc_id"), "doc_id", tmp)
      Dedup.compactJaccardIndex(s, tmp)
      Dedup.matchVsJaccardIndex(d.where(col("doc_id") % 2 === 1), "bg", "doc_id", tmp)
        .orderBy("doc_id", "matched_id")
    }),

    // DICTIONARY-REFRESH compaction: the odd half APPENDS under the even
    // half's frozen df-order (true frequencies double — drift), every
    // id ≡ 0 (mod 3) is tombstoned, and the compact REFRESHES the
    // dictionary (RefreshMode.Always): frequencies recomputed from the
    // survivors, every prefix re-derived under the new total order, the
    // replacement dictionary installed in the same atomic generation.
    // The pigeonhole test is order-INDEPENDENT, so the post-refresh probe
    // must return exactly what a fresh build on the survivors returns —
    // a refresh may move probe COST (prefix selectivity), never content.
    // The Auto drift decision is spec-pinned both directions
    // (IndexLifecycleSpec "jaccard dictionary refresh on compact").
    "q_jaccard_index_refresh" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), Dedup.wordNgrams(col("text"), 3).as("bg"))
      // Mutating gate: copy-on-write from the shared pristine even build.
      val tmp = graft.GateCache.privateCopy(s"jacidx_even600:$dir")(p =>
        Dedup.persistJaccardIndex(
          d.where(col("doc_id") % 2 === 0), "bg", "doc_id", p, thresholdMilli = 600))
      Dedup.persistJaccardIndex(
        d.where(col("doc_id") % 2 === 1), "bg", "doc_id", tmp, thresholdMilli = 600,
        append = true)
      Dedup.deleteFromPersistedIndex(
        d.where(col("doc_id") % 3 === 0).select("doc_id"), "doc_id", tmp)
      Dedup.compactJaccardIndex(s, tmp, refresh = Dedup.RefreshMode.Always)
      Dedup.matchVsJaccardIndex(d.where(col("doc_id") % 5 === 2), "bg", "doc_id", tmp)
        .orderBy("doc_id", "matched_id")
    }),

    "q_knn_ivf_compact_sel" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val tmp = graft.GateCache.privateCopy(s"ivfidx_full:$dir")(p =>
        Similarity.persistIvfIndex(emb, "vec_id", "embedding",
          graft.operators.IvfPinned.centroids, p))
      Dedup.deleteFromPersistedIndex(
        emb.where(col("vec_id") % 97 === 0).select("vec_id"), "vec_id", tmp)
      Similarity.compactIvfIndex(s, tmp)
      Similarity.ivfTopKFromPersisted(s, tmp, emb.where("vec_id < 5"), "vec_id", "embedding",
          k = 10, nprobe = 4)
        .orderBy("query_id", "rnk")
    }),

    "q_bm25_index_compact_sel" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val tmp = graft.GateCache.privateCopy(s"bm25idx_full:$dir")(p =>
        TextAnalysis.persistBm25Index(TextAnalysis.buildBm25Index(docs, "text", "doc_id"), p))
      Dedup.deleteFromPersistedIndex(
        docs.where(col("doc_id") % 97 === 0).select("doc_id"), "doc_id", tmp)
      TextAnalysis.compactBm25Index(s, tmp)
      val q = Seq(
        (1L, "spark join window"), (2L, "hash merge sort batch"),
        (3L, "customer filter query"), (4L, "scan"), (5L, "stream data value key")
      ).toDF("query_id", "q_text")
      TextAnalysis.bm25TopKFromPersisted(s, tmp, q, "query_id", "q_text", k = 10)
        .orderBy("query_id", "rnk")
    }),

    // Gram-index compaction closes the SIXTH index family's lifecycle:
    // build on the even half, APPEND the odd half (overlapping increments
    // re-contribute shared grams — duplicate rows the probe's semi-join
    // shrugs off but every scan pays for), COMPACT (segment fold +
    // re-distinct, atomic generation swap), then excise the upper half
    // against it. The index now holds exactly the half-corpus gram
    // vocabulary, so the probe replays q_text_excise_serve's oracle
    // VERBATIM — append+compact must be indistinguishable from the
    // one-shot build.
    "q_gram_index_compact" -> ((s, dir) => {
      val all = t(s, dir, "documents")
      val splitId = all.agg(max(col("doc_id").cast("long"))).head.getLong(0) / 2
      val half = all.where(col("doc_id") <= splitId)
      val tmp = graft.GateCache.privateCopy(s"gramidx_evenhalf_k30:$dir")(p =>
        Dedup.persistGramIndex(half.where(col("doc_id") % 2 === 0), "text", "doc_id", p, k = 30))
      Dedup.persistGramIndex(half.where(col("doc_id") % 2 === 1), "text", "doc_id", tmp,
        k = 30, append = true)
      Dedup.compactGramIndex(s, tmp)
      Dedup.exciseVsPersistedGrams(all.where(col("doc_id") > splitId), "text", "doc_id", tmp)
        .orderBy("doc_id")
    }),

    // Right-to-be-forgotten END-TO-END: all five persisted index families
    // built (MinHash signature / image fingerprint / Jaccard prefix / IVF
    // cell / BM25 postings), then ONE CorpusPipeline.forgetDocuments call
    // fans the request — every id ≡ 0 (mod 3), doc and vector domains —
    // across all of them as O(|ids|) tombstone appends, and each surface
    // is probed. The union report hashes: no surface may return a
    // forgotten id, and survivors must be exactly the per-surface
    // delete-gate results (the oracle composes those five replays).
    "q_forget_flow" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.{CorpusPipeline, Multimodal}
      val docs = t(s, dir, "documents")
      val emb  = t(s, dir, "embeddings")
      // All five index builds are copy-on-write resolves of the pristine
      // artifacts the serve/pruned gates share (identical build inputs per
      // key), so this gate pays five directory copies + the forget + five
      // probes — not five from-scratch builds.
      val splitId = docs.agg(max(col("doc_id").cast("long"))).head.getLong(0) / 2
      val sig = graft.GateCache.privateCopy(s"sigidx_half:$dir")(p =>
        Dedup.persistSignatureIndex(
          Dedup.buildSignatureIndex(docs.where(col("doc_id") <= splitId), "text", "doc_id"), p))
      val fpp = graft.GateCache.privateCopy(s"fpidx_full:$dir")(p =>
        Dedup.persistFingerprintIndex(
          docs.select(col("doc_id"),
            Multimodal.imageDHash(Multimodal.syntheticPngTextured(col("doc_id"))).as("dh")),
          "doc_id", "dh", p, maxHamming = 3, fpBits = 63))
      val dsets = docs.select(col("doc_id"), Dedup.wordNgrams(col("text"), 3).as("bg"))
      val jac = graft.GateCache.privateCopy(s"jacidx_even600:$dir")(p =>
        Dedup.persistJaccardIndex(
          dsets.where(col("doc_id") % 2 === 0), "bg", "doc_id", p, thresholdMilli = 600))
      val ivf = graft.GateCache.privateCopy(s"ivfidx_full:$dir")(p =>
        Similarity.persistIvfIndex(emb, "vec_id", "embedding",
          graft.operators.IvfPinned.centroids, p))
      val bm = graft.GateCache.privateCopy(s"bm25idx_full:$dir")(p =>
        TextAnalysis.persistBm25Index(TextAnalysis.buildBm25Index(docs, "text", "doc_id"), p))
      val forget = docs.where(col("doc_id") % 3 === 0).select(col("doc_id"))
        .unionByName(emb.where(col("vec_id") % 3 === 0).select(col("vec_id").as("doc_id")))
        .distinct()
      CorpusPipeline.forgetDocuments(forget, "doc_id", Seq(sig, fpp, jac, ivf, bm))
      val sigP = Dedup.matchVsPersistedIndex(
          docs.where(col("doc_id") > splitId), "text", "doc_id", sig)
        .select(lit("sig").as("surface"), col("doc_id").as("probe_id"), col("matched_id"),
          round(col("est_jaccard") * 32).cast("long").as("score"))
      val fpP = Dedup.matchVsFingerprintIndex(
          docs.select((col("doc_id") + 10000000L).as("doc_id"),
            Multimodal.imageDHash(Multimodal.syntheticPngTexturedJittered(col("doc_id"))).as("dh")),
          "doc_id", "dh", fpp)
        .select(lit("fp").as("surface"), col("doc_id").as("probe_id"), col("matched_id"),
          col("hamming").cast("long").as("score"))
      val jacP = Dedup.matchVsJaccardIndex(
          dsets.where(col("doc_id") % 2 === 1), "bg", "doc_id", jac)
        .select(lit("jac").as("surface"), col("doc_id").as("probe_id"), col("matched_id"),
          col("jaccard_milli").cast("long").as("score"))
      val ivfP = Similarity.ivfTopKFromPersisted(s, ivf,
          emb.where("vec_id < 5"), "vec_id", "embedding", k = 10, nprobe = 4)
        .select(lit("ivf").as("surface"), col("query_id").as("probe_id"),
          col("neighbor_id").as("matched_id"), col("rnk").cast("long").as("score"))
      val bmQ = Seq(
        (1L, "spark join window"), (2L, "hash merge sort batch"),
        (3L, "customer filter query"), (4L, "scan"), (5L, "stream data value key")
      ).toDF("query_id", "q_text")
      val bmP = TextAnalysis.bm25TopKFromPersisted(s, bm, bmQ, "query_id", "q_text", k = 10)
        .select(lit("bm25").as("surface"), col("query_id").as("probe_id"),
          col("doc_id").as("matched_id"), col("rnk").cast("long").as("score"))
      sigP.unionByName(fpP).unionByName(jacP).unionByName(ivfP).unionByName(bmP)
        .orderBy("surface", "probe_id", "matched_id", "score")
    }),

    // Forget THEN COMPACT, end-to-end: the full right-to-be-forgotten
    // lifecycle — all five families built, one forget call, then ONE
    // CorpusPipeline.compactIndexes call (family auto-detected from each
    // index's frozen metadata) rewrites every surface minus the
    // tombstoned docs and drops the tombstone sets. Every probe must
    // return exactly what the mask-only flow returns (the forget-flow
    // oracle verbatim): purge ≡ mask across all five surfaces in one
    // composed run.
    "q_forget_compact_flow" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.{CorpusPipeline, Multimodal}
      val docs = t(s, dir, "documents")
      val emb  = t(s, dir, "embeddings")
      val splitId = docs.agg(max(col("doc_id").cast("long"))).head.getLong(0) / 2
      val sig = graft.GateCache.privateCopy(s"sigidx_half:$dir")(p =>
        Dedup.persistSignatureIndex(
          Dedup.buildSignatureIndex(docs.where(col("doc_id") <= splitId), "text", "doc_id"), p))
      val fpp = graft.GateCache.privateCopy(s"fpidx_full:$dir")(p =>
        Dedup.persistFingerprintIndex(
          docs.select(col("doc_id"),
            Multimodal.imageDHash(Multimodal.syntheticPngTextured(col("doc_id"))).as("dh")),
          "doc_id", "dh", p, maxHamming = 3, fpBits = 63))
      val dsets = docs.select(col("doc_id"), Dedup.wordNgrams(col("text"), 3).as("bg"))
      val jac = graft.GateCache.privateCopy(s"jacidx_even600:$dir")(p =>
        Dedup.persistJaccardIndex(
          dsets.where(col("doc_id") % 2 === 0), "bg", "doc_id", p, thresholdMilli = 600))
      val ivf = graft.GateCache.privateCopy(s"ivfidx_full:$dir")(p =>
        Similarity.persistIvfIndex(emb, "vec_id", "embedding",
          graft.operators.IvfPinned.centroids, p))
      val bm = graft.GateCache.privateCopy(s"bm25idx_full:$dir")(p =>
        TextAnalysis.persistBm25Index(TextAnalysis.buildBm25Index(docs, "text", "doc_id"), p))
      val forget = docs.where(col("doc_id") % 3 === 0).select(col("doc_id"))
        .unionByName(emb.where(col("vec_id") % 3 === 0).select(col("vec_id").as("doc_id")))
        .distinct()
      CorpusPipeline.forgetDocuments(forget, "doc_id", Seq(sig, fpp, jac, ivf, bm))
      CorpusPipeline.compactIndexes(s, Seq(sig, fpp, jac, ivf, bm))
      val sigP = Dedup.matchVsPersistedIndex(
          docs.where(col("doc_id") > splitId), "text", "doc_id", sig)
        .select(lit("sig").as("surface"), col("doc_id").as("probe_id"), col("matched_id"),
          round(col("est_jaccard") * 32).cast("long").as("score"))
      val fpP = Dedup.matchVsFingerprintIndex(
          docs.select((col("doc_id") + 10000000L).as("doc_id"),
            Multimodal.imageDHash(Multimodal.syntheticPngTexturedJittered(col("doc_id"))).as("dh")),
          "doc_id", "dh", fpp)
        .select(lit("fp").as("surface"), col("doc_id").as("probe_id"), col("matched_id"),
          col("hamming").cast("long").as("score"))
      val jacP = Dedup.matchVsJaccardIndex(
          dsets.where(col("doc_id") % 2 === 1), "bg", "doc_id", jac)
        .select(lit("jac").as("surface"), col("doc_id").as("probe_id"), col("matched_id"),
          col("jaccard_milli").cast("long").as("score"))
      val ivfP = Similarity.ivfTopKFromPersisted(s, ivf,
          emb.where("vec_id < 5"), "vec_id", "embedding", k = 10, nprobe = 4)
        .select(lit("ivf").as("surface"), col("query_id").as("probe_id"),
          col("neighbor_id").as("matched_id"), col("rnk").cast("long").as("score"))
      val bmQ = Seq(
        (1L, "spark join window"), (2L, "hash merge sort batch"),
        (3L, "customer filter query"), (4L, "scan"), (5L, "stream data value key")
      ).toDF("query_id", "q_text")
      val bmP = TextAnalysis.bm25TopKFromPersisted(s, bm, bmQ, "query_id", "q_text", k = 10)
        .select(lit("bm25").as("surface"), col("query_id").as("probe_id"),
          col("doc_id").as("matched_id"), col("rnk").cast("long").as("score"))
      sigP.unionByName(fpP).unionByName(jacP).unionByName(ivfP).unionByName(bmP)
        .orderBy("surface", "probe_id", "matched_id", "score")
    }),

    // BPE-ish pre-tokenization count (regex segmentation).
    "q_text_bpe_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.bpeTokenCount(col("text")).as("n_bpe_tokens"))
        .orderBy("doc_id")),

    // TRUE BPE token counts under the frozen trained merge table
    // (BpePinned — tools.TrainBpe, retraining reproducibility
    // spec-pinned). The oracle replays the exact encode: a recursive CTE
    // merges the leftmost lowest-rank pair one step at a time over the
    // corpus' distinct words, then joins counts back per document.
    "q_text_bpe_real" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.operators.Bpe.tokenCount(graft.operators.BpePinned.merges)(col("text")).as("n_bpe"))
        .orderBy("doc_id")),

    // The full encode OUTPUT under the same frozen merge table: every
    // (doc, position, token) triple — the oracle replays the merge loop
    // per distinct word, then re-assembles documents word by word.
    "q_text_bpe_encode" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(graft.operators.Bpe.encodeTokens(graft.operators.BpePinned.merges)(col("text")))
            .as(Seq("pos", "token")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))
        .orderBy("doc_id", "pos")),

    // Token counting.
    "q_text_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id")),

    // Quality metrics.
    "q_text_quality" -> ((s, dir) =>
      TextAnalysis.qualityMetrics(t(s, dir, "documents"), "text")
        .select("doc_id", "n_chars", "n_tokens", "mean_token_len", "alpha_ratio", "stopword_ratio")
        .orderBy("doc_id")),

    // Heuristic language ID.
    "q_text_langid" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.languageId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    // Corpus term/document frequency (TF-IDF counting backbone).
    "q_text_termfreq" -> ((s, dir) =>
      TextAnalysis.termDocFrequency(t(s, dir, "documents"), "text", "doc_id").orderBy("term")),

    // Normalized-content fingerprint.
    "q_text_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fp"))
        .orderBy("doc_id")),

    // Winnowing fingerprints (sequential rolling hash → UDF; rows-only).
    "q_text_winnow" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), size(TextAnalysis.winnowingFingerprints()(col("text"))).cast("long").as("n_fps"))
        .orderBy("doc_id")),

    // Deterministic id-hash sampling (no RNG state — stable across runs
    // and task retries).
    "q_sample_hash" -> ((s, dir) =>
      Sampling.hashSample(t(s, dir, "documents"), "doc_id", 0.25)
        .select("doc_id").orderBy("doc_id")),

    // Train/val/test split assignment by hash-bucket ranges.
    "q_split_assign" -> ((s, dir) =>
      Sampling.assignSplit(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split").orderBy("doc_id")),

    // Deterministic shard + within-shard position (the training-export
    // "global shuffle" without a global sort; seed 7 = epoch key).
    "q_shard_assign" -> ((s, dir) =>
      Sampling.shardAssign(t(s, dir, "documents").select("doc_id"), "doc_id", numShards = 8, seed = 7L)
        .select("doc_id", "shard", "pos").orderBy("doc_id")),

    // Deterministic GLOBAL shuffle position — one total training order
    // across all shards, computed by hash-domain range bucketing + local
    // ranks + driver-summed offsets (the oracle's single-node
    // row_number() is exactly what the distributed form must reproduce
    // while never planning a single-partition sort).
    "q_corpus_shuffle" -> ((s, dir) =>
      Sampling.shuffleOrder(t(s, dir, "documents").select("doc_id"), "doc_id", salt = "epoch1:")
        .select("doc_id", "shuffle_pos").orderBy("doc_id")),

    // Per-domain document quota (C4-style host capping): synthetic hosts
    // derived arithmetically (URL extraction itself is q_text_urls'
    // gate); docs with doc_id % 11 == 0 have no domain and pass uncapped.
    // Token-budget selection per language: keep each language's longest
    // documents while the inclusive running n_chars total stays within
    // the budget (mixtures are specified in tokens, not rows).
    "q_token_budget" -> ((s, dir) =>
      TextAnalysis.tokenBudgetPerDomain(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        "lang", "doc_id", "n_chars", budgetTokens = 20000, scoreCol = Some("n_chars"))
        .orderBy("doc_id")),

    "q_domain_quota" -> ((s, dir) => {
      val host = when(pmod(col("doc_id"), lit(11)) === 0, lit(null).cast("string"))
        .otherwise(concat(lit("site"), pmod(col("doc_id"), lit(7)).cast("string"), lit(".example.com")))
      TextAnalysis.domainQuota(
        t(s, dir, "documents").select(col("doc_id"), host.as("host")),
        "host", "doc_id", maxPerDomain = 3
      ).orderBy("doc_id")
    }),

    // Greedy whole-document sequence packing into 512-token budgets over
    // 8 hash shards; the oracle replays the same greedy fold with a
    // recursive CTE per shard.
    "q_pack_sequences" -> ((s, dir) =>
      TextAnalysis.packSequences(
        t(s, dir, "documents").select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", maxTokens = 512, numShards = 8
      ).orderBy("doc_id")),

    // Token-window chunking (20-token chunks, 5-token overlap) — the
    // training-length windowing step; exact text + counts per chunk.
    "q_text_chunks" -> ((s, dir) =>
      TextAnalysis.chunkByTokens(t(s, dir, "documents"), "text", "doc_id", chunkTokens = 20, overlapTokens = 5)
        .orderBy("doc_id", "chunk_idx")),

    // Cross-document repeated substrings: how many of a doc's 30-char
    // grams appear in other docs (boilerplate / template detection).
    "q_text_shared_spans" -> ((s, dir) =>
      Dedup.sharedSubstringCounts(t(s, dir, "documents"), "text", "doc_id", k = 30)
        .orderBy("doc_id")),

    // Substring-level dedup as a REWRITE: excise every maximal character
    // span covered by 30-grams that also occur in another document
    // (Lee-et-al-style exact substring dedup; shared_spans counts it,
    // this removes it).
    "q_text_substring_dedup" -> ((s, dir) =>
      Dedup.exciseSharedSubstrings(t(s, dir, "documents"), "text", "doc_id", k = 30)
        .orderBy("doc_id")),

    // Persisted-gram-index SERVING form of substring excision: the first
    // corpus half's distinct 30-grams go to disk bucket-partitioned, the
    // second half is excised against them with a partition-pruned probe —
    // the boilerplate-scrub an ingest pipeline runs against a frozen
    // 100-TB corpus index.
    "q_text_excise_serve" -> ((s, dir) => {
      val all = t(s, dir, "documents")
      val splitId = all.agg(max(col("doc_id").cast("long"))).head.getLong(0) / 2
      // Read-only serve: build shared (GateCache) with q_text_excise_stream.
      val tmp = graft.GateCache.dir(s"gramidx_half_k30:$dir")(p =>
        Dedup.persistGramIndex(all.where(col("doc_id") <= splitId), "text", "doc_id", p, k = 30))
      Dedup.exciseVsPersistedGrams(all.where(col("doc_id") > splitId), "text", "doc_id", tmp)
        .orderBy("doc_id")
    }),

    // Per-stratum deterministic sampling (corpus mixing): each event type
    // keeps its own fraction, unlisted types drop.
    "q_sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedSample(
        Tpch.events(s, dir).select("event_id", "event_type"),
        "event_id", "event_type",
        Map("purchase" -> 0.5, "click" -> 0.2, "view" -> 0.1)
      ).orderBy("event_id")),

    // Temperature-scaled mixture sampling over languages (T = 2 — the
    // cross-engine-exact sqrt regime): rare languages keep proportionally
    // more rows, the overall budget is half the corpus.
    "q_sample_mixture" -> ((s, dir) =>
      Sampling.mixtureSample(t(s, dir, "documents"), "doc_id", "lang",
          targetFraction = 0.5, temperature = 2.0)
        .select("doc_id", "lang").orderBy("doc_id")),

    // Backward as-of join: each purchase matched to the user's most recent
    // click at-or-before it (one shuffle, no range theta-join).
    "q_asof_join" -> ((s, dir) => {
      import graft.operators.AsofJoin
      val ev = Tpch.events(s, dir).withColumn("ts_us", expr("ts div 1000"))
      val purchases = ev.where(col("event_type") === "purchase").select("event_id", "user_id", "ts_us")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts_us"))
      AsofJoin.backward(purchases, clicks, Seq("user_id"), "ts_us", tieCols = Seq("click_id"))
        .orderBy("event_id")
    }),

    // Binned interval join: each purchase opens a 10-minute promo window
    // for its user; every event of that user inside a window pairs with
    // it. RangeJoin turns the would-be theta join into an equi-join on
    // (user, time-bin) + exact containment filter — the oracle is the
    // plain theta join, which the binning must reproduce pair-for-pair.
    "q_range_join" -> ((s, dir) => {
      import graft.operators.RangeJoin
      val ev = Tpch.events(s, dir).withColumn("ts_us", expr("ts div 1000"))
      val points = ev.select(col("event_id"), col("user_id"), col("ts_us"))
      val windows = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("promo_id"), col("user_id"),
          col("ts_us").as("w_start"), (col("ts_us") + lit(600000000L)).as("w_end"))
      RangeJoin.pointInInterval(points, windows, Seq("user_id"),
          "ts_us", "w_start", "w_end", binWidth = 600000000L)
        .select("event_id", "promo_id")
        .orderBy("event_id", "promo_id")
    }),

    // Interval-overlap join: per user, 10-minute purchase windows vs
    // 5-minute click windows — every overlapping pair, via the same
    // binning with the allocate-to-later-start multiplicity guard. The
    // oracle is the plain overlap theta join, pair-for-pair.
    "q_interval_overlap" -> ((s, dir) => {
      import graft.operators.RangeJoin
      val ev = Tpch.events(s, dir).withColumn("ts_us", expr("ts div 1000"))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("promo_id"), col("user_id"),
          col("ts_us").as("ps"), (col("ts_us") + lit(600000000L)).as("pe"))
      val c = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts_us").as("cs"), (col("ts_us") + lit(300000000L)).as("ce"))
      RangeJoin.intervalOverlap(p, c, Seq("user_id"), "ps", "pe", "cs", "ce", binWidth = 600000000L)
        .select("promo_id", "click_id")
        .orderBy("promo_id", "click_id")
    }),

    // Quality-weighted sampling: keep probability proportional to the
    // event's value (clamped) — high-value rows survive more often.
    "q_sample_weighted" -> ((s, dir) =>
      Sampling.weightedSample(
        Tpch.events(s, dir)
          .select(col("event_id"), col("event_type"), (col("value") / 100.0).as("keep_p")),
        "event_id", "keep_p"
      ).select("event_id", "event_type").orderBy("event_id")),

    // DSIR importance resampling: hashed-unigram (64-bucket) importance
    // weights with the English slice as the target distribution, scored in
    // fixed-point nano-nats (integer dot product — summation-order-proof),
    // top-50 kept. The oracle replays token hashing, add-one smoothing,
    // the per-bucket single-ln fixed-point model, and the integer sum.
    "q_sample_importance" -> ((s, dir) =>
      Sampling.importanceResample(t(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en", quota = 50)
        .select("doc_id", "weight_fp")
        .orderBy(col("weight_fp").desc, col("doc_id"))),

    // Fixed-SIZE per-stratum sample: exactly 20 docs per language by
    // deterministic hash order — the balanced eval-set builder
    // (stratifiedSample keeps fractions; this keeps counts).
    "q_sample_fixed_strata" -> ((s, dir) =>
      Sampling.fixedSizeStratified(t(s, dir, "documents"), "doc_id", "lang", k = 20)
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")),

    // Length-bucketed batch formation: batch_id as if globally sorted by
    // (n_chars, doc_id) and cut every 32 rows — near-equal-length batches
    // minimize padding. Computed WITHOUT a global sort (two-phase
    // bucket + offset decomposition); the oracle IS the global sort.
    "q_batch_bucketed" -> ((s, dir) =>
      Sampling.lengthBucketedBatches(t(s, dir, "documents"), "doc_id", "n_chars", batchSize = 32)
        .select("doc_id", "n_chars", "global_pos", "batch_id")
        .orderBy("doc_id")),

    // Forward as-of: each purchase matched to the user's NEXT click
    // at-or-after it (same one-shuffle shape, descending time order).
    "q_asof_forward" -> ((s, dir) => {
      import graft.operators.AsofJoin
      val ev = Tpch.events(s, dir).withColumn("ts_us", expr("ts div 1000"))
      val purchases = ev.where(col("event_type") === "purchase").select("event_id", "user_id", "ts_us")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts_us"))
      AsofJoin.forward(purchases, clicks, Seq("user_id"), "ts_us", tieCols = Seq("click_id"))
        .orderBy("event_id")
    }),

    // Free-text PII scrubbing (emails/phones → typed placeholders) over a
    // derived text with known PII embedded.
    "q_text_pii_scrub" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.scrubPii(
          concat(substring(col("text"), 1, 40), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or (555) 123-4567 now"))
        ).as("scrubbed")
      ).orderBy("doc_id")),

    // C4-style blocklist safety filter over a derived text with planted
    // hits (the corpus itself is clean): occurrence counts, case folded,
    // plus the drop-on-any-hit keep flag.
    "q_text_blocklist" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.blocklistHits(
          concat(col("text"),
            when(col("doc_id") % 5 === 0, lit(" CONFIDENTIAL notice")).otherwise(lit("")),
            when(col("doc_id") % 11 === 0, lit(" secret secret internal")).otherwise(lit(""))),
          Seq("confidential", "secret", "internal")).as("n_blocked"))
        .withColumn("kept", col("n_blocked") === 0)
        .orderBy("doc_id")),

    // WITHIN-doc repeated-line removal over a derived doc with planted
    // boilerplate repeats (first occurrence survives, order preserved).
    "q_text_line_dedup_within" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.dedupLinesWithin(
          concat(substring(col("text"), 1, 40), lit("\nFOOTER\n"),
            substring(col("text"), 1, 40), lit("\n"), col("text"), lit("\nFOOTER"))
        ).as("cleaned")
      ).orderBy("doc_id")),

    // Corpus diff between two snapshots: v2 drops ids ≡ 0 (mod 13),
    // rewrites text for ids ≡ 0 (mod 7), and adds 10M-offset new docs —
    // per-id added/removed/changed/unchanged by content MD5.
    "q_corpus_diff" -> ((s, dir) => {
      val v1 = t(s, dir, "documents")
      val v2 = v1.where(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text"))
        .unionByName(v1.where(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            concat(lit("new doc "), col("doc_id").cast("string")).as("text")))
      TextAnalysis.corpusDiff(v1, v2, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Top-k salient terms per doc (integer-exact TF-IDF ranking).
    // CCNet-style calibrated quality filter: the LM threshold is the
    // corpus' own 70th percentile of milli-nat scores (exact — value
    // histogram over the fixed-point domain), not a hard-coded cut.
    "q_text_lm_calibrated" -> ((s, dir) =>
      TextAnalysis.lmQualityFilterCalibrated(t(s, dir, "documents"), "text", "doc_id",
          keepFraction = 0.7)
        .orderBy("doc_id")),

    // Supervised quality classifier: the pinned fastText-style hashed-token
    // linear model (QualityClassifierPinned — micro-unit integer weights
    // distilling the LM filter; training reproducibility spec-pinned),
    // served scan-local against the broadcast weights. Integer logits, so
    // the oracle replays them exactly from the pinned constants.
    "q_text_classifier_score" -> ((s, dir) =>
      graft.operators.QualityClassifier.score(
          t(s, dir, "documents"), "text", "doc_id",
          graft.operators.QualityClassifierPinned.model)
        .orderBy("doc_id")),

    // Fixed-point PageRank over a deterministic synthetic link graph
    // (3 modular out-edges per doc): 10 integer-arithmetic iterations,
    // bit-identical on any engine (oracle unrolls the rounds as CTEs).
    // Connected components over a BLOCKED synthetic graph (links only
    // within doc_id % 16 blocks, two quotient-space link functions per
    // node) — many components, forced through the DISTRIBUTED
    // pointer-jumping path. Oracle = recursive min-label closure.
    "q_graph_cc" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"))
      val nn = docs.agg(max("doc_id")).head.getLong(0) + 1
      val qq = nn / 16
      val e = docs.select(col("doc_id").as("src"),
        explode(array(
          expr(s"(((doc_id div 16) * 7 + 1) % $qq) * 16 + doc_id % 16"),
          expr(s"(((doc_id div 16) * 13 + 2) % $qq) * 16 + doc_id % 16"))).as("dst"))
      graft.operators.LinkGraph.connectedComponents(e, "src", "dst",
          graft.operators.Dedup.ClusterMode.Distributed)
        .orderBy("node")
    }),

    "q_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"))
      val nn = docs.agg(max("doc_id")).head.getLong(0) + 1
      val e = docs.select(col("doc_id").as("src"),
        explode(array(
          (col("doc_id") * 7 + 1) % nn,
          (col("doc_id") * 13 + 2) % nn,
          (col("doc_id") * 29 + 5) % nn)).as("dst"))
      graft.operators.LinkGraph.pageRank(e, "src", "dst", iterations = 10).orderBy("node")
    }),

    // Stochastic-matrix PageRank on a graph with REAL dangling nodes
    // (every doc_id % 3 == 0 emits no links but is still linked TO):
    // per-round dangling mass redistributes uniformly, so ranks stay a
    // probability distribution. Fixed 10 rounds — the oracle unrolls the
    // identical integer arithmetic including the dangling term.
    "q_pagerank_stochastic" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"))
      val nn = docs.agg(max("doc_id")).head.getLong(0) + 1
      val e = docs.where(col("doc_id") % 3 =!= 0).select(col("doc_id").as("src"),
        explode(array(
          (col("doc_id") * 7 + 1) % nn,
          (col("doc_id") * 13 + 2) % nn,
          (col("doc_id") * 29 + 5) % nn)).as("dst"))
      graft.operators.LinkGraph.pageRankStochastic(e, "src", "dst", iterations = 10).orderBy("node")
    }),

    // Personalized PageRank / TrustRank: teleport AND dangling mass
    // restart at the seed set (node % 16 == 0) on the same dangling-node
    // graph as the stochastic gate — rank measures proximity to seeds.
    "q_trustrank" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"))
      val nn = docs.agg(max("doc_id")).head.getLong(0) + 1
      val e = docs.where(col("doc_id") % 3 =!= 0).select(col("doc_id").as("src"),
        explode(array(
          (col("doc_id") * 7 + 1) % nn,
          (col("doc_id") * 13 + 2) % nn,
          (col("doc_id") * 29 + 5) % nn)).as("dst"))
      graft.operators.LinkGraph.pageRankPersonalized(e, "src", "dst",
          docs.where(col("doc_id") % 16 === 0), "doc_id", iterations = 10)
        .orderBy("node")
    }),

    // BM25 top-k retrieval over the documents table for a fixed query set
    // (query-term multiplicity ignored; Lucene idf; per-term contributions
    // floored to nano units before the order-free integer sum).
    "q_bm25_topk" -> ((s, dir) => {
      import s.implicits._
      val q = Seq(
        (1L, "spark join window"), (2L, "hash merge sort batch"),
        (3L, "customer filter query"), (4L, "scan"), (5L, "stream data value key")
      ).toDF("query_id", "q_text")
      TextAnalysis.bm25TopK(t(s, dir, "documents"), q, "text", "doc_id", "query_id", "q_text", k = 10)
        .orderBy("query_id", "rnk")
    }),

    // BM25 SERVING form: the inverted index is built, persisted to
    // parquet, READ BACK, and queried with the corpus text out of the
    // picture — the train-once/serve-forever split. Same oracle as
    // q_bm25_topk (built-now and loaded indexes score bit-identically).
    // BM25 served from the TERM-BUCKETED persisted index: postings/terms
    // parquet-partitioned by xxhash64(term) % 64, probe reads only the
    // query terms' buckets (partition pruning — the 10⁹-doc serving
    // shape). Same oracle as q_bm25_topk: pruning must not change one
    // score bit.
    "q_bm25_index_pruned" -> ((s, dir) => {
      import s.implicits._
      // Read-only serve: build shared (GateCache) with q_bm25_serve_stream.
      val tmp = graft.GateCache.dir(s"bm25idx_full:$dir")(p =>
        TextAnalysis.persistBm25Index(
          TextAnalysis.buildBm25Index(t(s, dir, "documents"), "text", "doc_id"), p))
      val q = Seq(
        (1L, "spark join window"), (2L, "hash merge sort batch"),
        (3L, "customer filter query"), (4L, "scan"), (5L, "stream data value key")
      ).toDF("query_id", "q_text")
      TextAnalysis.bm25TopKFromPersisted(s, tmp, q, "query_id", "q_text", k = 10)
        .orderBy("query_id", "rnk")
    }),

    // Document deletes on the persisted BM25 index: tombstoned ids vanish
    // from postings AND from the global statistics (df recounted from the
    // filtered postings, avgdl/N from the filtered docs) — serving scores
    // as if the index had been built without them.
    "q_bm25_index_delete" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      // Mutating gate: copy-on-write from the shared pristine full build.
      val tmp = graft.GateCache.privateCopy(s"bm25idx_full:$dir")(p =>
        TextAnalysis.persistBm25Index(TextAnalysis.buildBm25Index(docs, "text", "doc_id"), p))
      Dedup.deleteFromPersistedIndex(
        docs.where(col("doc_id") % 3 === 0).select("doc_id"), "doc_id", tmp)
      val q = Seq(
        (1L, "spark join window"), (2L, "hash merge sort batch"),
        (3L, "customer filter query"), (4L, "scan"), (5L, "stream data value key")
      ).toDF("query_id", "q_text")
      TextAnalysis.bm25TopKFromPersisted(s, tmp, q, "query_id", "q_text", k = 10)
        .orderBy("query_id", "rnk")
    }),

    // Vector deletes on the persisted IVF index: tombstoned ids can never
    // be returned as neighbors (probe anti-joins the broadcast set; no
    // cell partition rewritten).
    // IVF-index compaction with the full lifecycle in one gate: persist
    // half the corpus, append the other half against the frozen
    // centroids, tombstone every vec_id ≡ 0 (mod 3), COMPACT (purge +
    // segment fold + tombstone drop, centroids carried through), probe —
    // must rank exactly like the delete gate (fresh build on survivors).
    "q_knn_ivf_compact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val mid = emb.agg(max(col("vec_id").cast("long"))).head.getLong(0) / 2
      val tmp = java.nio.file.Files.createTempDirectory("graft_ivfidx_cmp_").toString
      Similarity.persistIvfIndex(emb.where(col("vec_id") <= mid), "vec_id", "embedding",
        graft.operators.IvfPinned.centroids, tmp)
      Similarity.appendToIvfIndex(emb.where(col("vec_id") > mid), "vec_id", "embedding", tmp)
      Dedup.deleteFromPersistedIndex(emb.where(col("vec_id") % 3 === 0).select("vec_id"), "vec_id", tmp)
      Similarity.compactIvfIndex(s, tmp)
      Similarity.ivfTopKFromPersisted(s, tmp, emb.where("vec_id < 5"), "vec_id", "embedding",
          k = 10, nprobe = 4)
        .orderBy("query_id", "rnk")
    }),

    // RETRAIN-on-compact: the full lifecycle (pinned-centroid build on
    // half, append the drifted other half, tombstone % 3) closed by
    // compactIvfIndex(retrain = Always) — Lloyd re-runs on the survivors
    // and NEW centroids install in the same atomic generation flip. The
    // probe then runs exhaustively (nprobe = nlist), which makes the
    // ranking centroid-INDEPENDENT: whatever quantizer the retrain
    // learned, serving through the standard pinned path must equal the
    // exact top-k over the survivors (the brute-force oracle minus the
    // purged ids). IvfRecallSoak measures the pruned-probe recall/cost
    // story; this gate pins the correctness half.
    "q_knn_ivf_retrain" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val mid = emb.agg(max(col("vec_id").cast("long"))).head.getLong(0) / 2
      // Mutating gate: copy-on-write from the shared pristine two-segment
      // build (lower half built under pinned centroids, upper appended).
      val tmp = graft.GateCache.privateCopy(s"ivfidx_2seg:$dir") { p =>
        Similarity.persistIvfIndex(emb.where(col("vec_id") <= mid), "vec_id", "embedding",
          graft.operators.IvfPinned.centroids, p)
        Similarity.appendToIvfIndex(emb.where(col("vec_id") > mid), "vec_id", "embedding", p)
      }
      Dedup.deleteFromPersistedIndex(emb.where(col("vec_id") % 3 === 0).select("vec_id"), "vec_id", tmp)
      Similarity.compactIvfIndex(s, tmp, retrain = Similarity.RetrainMode.Always)
      // Exhaustive probe (nprobe = the RETRAINED index's nlist — which
      // retrainNlistFor may have grown past the pinned build constant):
      // the ranking stays centroid-independent whatever geometry the
      // retrain chose.
      Similarity.ivfTopKFromPersisted(s, tmp, emb.where("vec_id < 5"), "vec_id", "embedding",
          k = 10, nprobe = Similarity.ivfIndexNlist(s, tmp))
        .orderBy("query_id", "rnk")
    }),

    // AUTO-retrain on compact: the drifted-append failure IvfRecallSoak
    // measures, closed end-to-end through RetrainMode.Auto. The appended
    // batch is a coherent NEW MODE — every component 50 + (vec_id+d) % 5,
    // i.e. all vectors within ~4% of the all-ones direction — so the
    // whole appended mass binds to the one or two frozen cells pointing
    // that way and the surviving-cell imbalance crosses Auto's
    // threshold: the compact measures it, retrains (Lloyd on
    // survivors), and installs new centroids in the same atomic
    // generation. (Integer-valued components keep float/double parity
    // exact between engines.) The probe runs exhaustively (nprobe =
    // nlist), making the ranking centroid-INDEPENDENT: whatever
    // quantizer Auto learned, the pinned serving path must equal the
    // exact top-k over the survivors. IndexLifecycleSpec pins the
    // DECISION both directions (fires on drift, holds on balance);
    // this gate pins the correctness of whatever it decides.
    "q_knn_ivf_retrain_auto" -> ((s, dir) => {
      val emb   = t(s, dir, "embeddings")
      val shift = emb.agg(max(col("vec_id").cast("long"))).head.getLong(0) + 1L
      val drifted = emb.select((col("vec_id") + lit(shift)).as("vec_id"),
        transform(sequence(lit(0), lit(graft.operators.IvfPinned.dims - 1)),
          d => (lit(50) + pmod(col("vec_id") + d, lit(5))).cast("float")).as("embedding"))
      // Mutating gate: copy-on-write from the shared pristine full build.
      val tmp = graft.GateCache.privateCopy(s"ivfidx_full:$dir")(p =>
        Similarity.persistIvfIndex(emb, "vec_id", "embedding",
          graft.operators.IvfPinned.centroids, p))
      Similarity.appendToIvfIndex(drifted, "vec_id", "embedding", tmp)
      val union = emb.select(col("vec_id"), col("embedding")).unionByName(drifted)
      Dedup.deleteFromPersistedIndex(
        union.where(col("vec_id") % 3 === 0).select("vec_id"), "vec_id", tmp)
      Similarity.compactIvfIndex(s, tmp,
        retrain = Similarity.RetrainMode.Auto(maxImbalance = 2.0))
      // Exhaustive whatever Auto decided (and whatever nlist a fired
      // retrain re-sized to): probe every live cell.
      Similarity.ivfTopKFromPersisted(s, tmp, emb.where("vec_id < 5"), "vec_id", "embedding",
          k = 10, nprobe = Similarity.ivfIndexNlist(s, tmp))
        .orderBy("query_id", "rnk")
    }),

    "q_knn_ivf_delete" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // Mutating gate: copy-on-write from the shared pristine full build.
      val tmp = graft.GateCache.privateCopy(s"ivfidx_full:$dir")(p =>
        Similarity.persistIvfIndex(emb, "vec_id", "embedding", graft.operators.IvfPinned.centroids, p))
      Dedup.deleteFromPersistedIndex(emb.where(col("vec_id") % 3 === 0).select("vec_id"), "vec_id", tmp)
      Similarity.ivfTopKFromPersisted(s, tmp, emb.where("vec_id < 5"), "vec_id", "embedding",
          k = 10, nprobe = 4)
        .orderBy("query_id", "rnk")
    }),

    // BM25-index compaction, full lifecycle: build half, append half
    // (additive partial term stats), tombstone ≡ 0 (mod 3), COMPACT —
    // postings purge + doc_freq recount + docs purge + tombstone drop —
    // then serve. Scores must re-derive exactly as a fresh build on the
    // survivors (the delete gate's oracle verbatim).
    "q_bm25_index_compact" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val mid = docs.agg(max(col("doc_id").cast("long"))).head.getLong(0) / 2
      // Mutating gate: copy-on-write from the shared pristine two-segment
      // build (half built, half appended — shared with q_bm25_index_append).
      val tmp = graft.GateCache.privateCopy(s"bm25idx_2seg:$dir") { p =>
        TextAnalysis.persistBm25Index(
          TextAnalysis.buildBm25Index(docs.where(col("doc_id") <= mid), "text", "doc_id"), p)
        TextAnalysis.appendToBm25Index(docs.where(col("doc_id") > mid), "text", "doc_id", p)
      }
      Dedup.deleteFromPersistedIndex(
        docs.where(col("doc_id") % 3 === 0).select("doc_id"), "doc_id", tmp)
      TextAnalysis.compactBm25Index(s, tmp)
      val q = Seq(
        (1L, "spark join window"), (2L, "hash merge sort batch"),
        (3L, "customer filter query"), (4L, "scan"), (5L, "stream data value key")
      ).toDF("query_id", "q_text")
      TextAnalysis.bm25TopKFromPersisted(s, tmp, q, "query_id", "q_text", k = 10)
        .orderBy("query_id", "rnk")
    }),

    // BM25 incremental ingest: build on HALF the corpus, append the other
    // half's postings/partial term stats/doc lengths (no rewrite), serve —
    // must rank exactly like a full build (idf/avgdl derive from the
    // additive stored stats at serve time). Completes the index-lifecycle
    // trio with the signature and IVF appends. Oracle = the retrieval
    // oracle verbatim.
    "q_bm25_index_append" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val mid = docs.agg(max(col("doc_id").cast("long"))).head.getLong(0) / 2
      // Read-only serve over the SAME two-segment artifact the compact
      // gate copies from (GateCache) — the build+append is certified once.
      val tmp = graft.GateCache.dir(s"bm25idx_2seg:$dir") { p =>
        TextAnalysis.persistBm25Index(
          TextAnalysis.buildBm25Index(docs.where(col("doc_id") <= mid), "text", "doc_id"), p)
        TextAnalysis.appendToBm25Index(docs.where(col("doc_id") > mid), "text", "doc_id", p)
      }
      val q = Seq(
        (1L, "spark join window"), (2L, "hash merge sort batch"),
        (3L, "customer filter query"), (4L, "scan"), (5L, "stream data value key")
      ).toDF("query_id", "q_text")
      TextAnalysis.bm25TopKFromPersisted(s, tmp, q, "query_id", "q_text", k = 10)
        .orderBy("query_id", "rnk")
    }),

    "q_bm25_index_serve" -> ((s, dir) => {
      import s.implicits._
      val idx = TextAnalysis.buildBm25Index(t(s, dir, "documents"), "text", "doc_id")
      val tmp = java.nio.file.Files.createTempDirectory("bm25_idx_").toString
      idx.postings.write.mode("overwrite").parquet(s"$tmp/postings")
      idx.terms.write.mode("overwrite").parquet(s"$tmp/terms")
      idx.docs.write.mode("overwrite").parquet(s"$tmp/docs")
      val loaded = TextAnalysis.Bm25Index(
        s.read.parquet(s"$tmp/postings"), s.read.parquet(s"$tmp/terms"), s.read.parquet(s"$tmp/docs"))
      val q = Seq(
        (1L, "spark join window"), (2L, "hash merge sort batch"),
        (3L, "customer filter query"), (4L, "scan"), (5L, "stream data value key")
      ).toDF("query_id", "q_text")
      TextAnalysis.bm25TopKFromIndex(loaded, q, "query_id", "q_text", k = 10)
        .orderBy("query_id", "rnk")
    }),

    // Hybrid retrieval: BM25 (lexical, over documents.text) and IVF-probe
    // ANN (dense, over embeddings, pinned centroids) rankings for the SAME
    // query ids 1-5, fused by reciprocal-rank fusion. Pure integer
    // arithmetic end to end (1e9 div (60+rnk) contributions), so the
    // oracle replays both retrievers' CTE chains and the fusion exactly.
    "q_hybrid_retrieval" -> ((s, dir) => {
      import s.implicits._
      val q = Seq(
        (1L, "spark join window"), (2L, "hash merge sort batch"),
        (3L, "customer filter query"), (4L, "scan"), (5L, "stream data value key")
      ).toDF("query_id", "q_text")
      val emb = t(s, dir, "embeddings")
      val lexical = TextAnalysis.bm25TopK(
        t(s, dir, "documents"), q, "text", "doc_id", "query_id", "q_text", k = 10)
      val dense = Similarity.ivfTopKWith(
          emb, emb.where("vec_id BETWEEN 1 AND 5"), "vec_id", "embedding", k = 10,
          graft.operators.IvfPinned.centroids, nprobe = 4)
        .withColumnRenamed("neighbor_id", "doc_id")
      TextAnalysis.reciprocalRankFusion(Seq(lexical, dense), k = 10)
        .orderBy("query_id", "rnk")
    }),

    "q_tfidf_top_terms" -> ((s, dir) =>
      TextAnalysis.topTermsPerDoc(t(s, dir, "documents"), "text", "doc_id", k = 3)
        .orderBy("doc_id", "rnk")),

    // Corpus bigram statistics (LM corpus-stats backbone).
    "q_text_ngrams" -> ((s, dir) =>
      TextAnalysis.tokenNgramCounts(t(s, dir, "documents"), "text", "doc_id", n = 2)
        .where(col("ngram_freq") >= 3)
        .orderBy("ngram")),

    // Train/test decontamination: every 50th doc plays the benchmark set;
    // the rest are the corpus checked for leaked trigram spans.
    "q_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.decontaminationOverlap(
        docs.where(pmod(col("doc_id"), lit(50)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(50)) === 0),
        "text", "doc_id", n = 3
      ).orderBy("doc_id")
    }),

    // The Bloom-filter serving form of decontamination — SELF-CHECKING
    // gate (like q_profile_hll): a Bloom filter's hit set is not
    // cross-engine replayable, so the gate joins the scan-local Bloom
    // counts against the exact join-based counts and hashes the verdicts —
    // no false negatives EVER (the Bloom guarantee that makes the error
    // direction safe for decontamination), and per-doc over-count within
    // max(8, 1% of grams) at fpp = 0.001. Bit-OR construction makes the
    // filter deterministic for fixed inputs, so verdicts are replay-stable.
    "q_decontaminate_bloom" -> ((s, dir) => {
      val docs   = t(s, dir, "documents")
      val corpus = docs.where(pmod(col("doc_id"), lit(50)) =!= 0)
      val bench  = docs.where(pmod(col("doc_id"), lit(50)) === 0)
      val exact  = TextAnalysis.decontaminationOverlap(corpus, bench, "text", "doc_id", n = 3)
      val bloom  = TextAnalysis.decontaminationOverlapBloom(corpus, bench, "text", "doc_id", n = 3, fpp = 0.001)
      exact.join(bloom.select(col("doc_id"), col("n_overlap_bloom")), "doc_id")
        .select(
          col("doc_id"), col("n_grams"), col("n_overlap"),
          (col("n_overlap_bloom") >= col("n_overlap")).as("no_false_negatives"),
          (col("n_overlap_bloom") - col("n_overlap") <=
            greatest(lit(8L), ceil(col("n_grams") * 0.01).cast("long"))).as("fp_within_bound")
        )
        .orderBy("doc_id")
    }),

    // C4/Gopher-style repetition filters: duplicate-token fraction and
    // top-bigram share per document.
    "q_text_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionMetrics(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")),

    // One-row corpus census (docs/tokens/chars/vocabulary).
    "q_corpus_stats" -> ((s, dir) =>
      TextAnalysis.corpusStats(t(s, dir, "documents"), "text")),

    // One-call quality filtering: the kept subset with its metrics.
    "q_quality_filter" -> ((s, dir) =>
      TextAnalysis.filterByQuality(
        t(s, dir, "documents"), "text", "doc_id",
        TextAnalysis.QualityThresholds(
          minTokens = 20, maxTokens = 1000,
          maxDupTokenFrac = 0.6, maxTopBigramFrac = 0.5, minAlphaRatio = 0.5)
      ).select("doc_id", "n_tokens", "dup_token_frac", "top_bigram_frac", "alpha_ratio")
        .orderBy("doc_id")),

    // The FINAL filter ensemble: classifier + LM perplexity + heuristics,
    // each flag auditable per doc, kept = the conjunction. The oracle
    // replays all three chains and joins them on doc_id.
    "q_quality_ensemble" -> ((s, dir) =>
      TextAnalysis.qualityEnsemble(t(s, dir, "documents"), "text", "doc_id",
          graft.operators.QualityClassifierPinned.model,
          nllThreshold = 3.45,
          t = TextAnalysis.QualityThresholds(
            minTokens = 20, maxTokens = 1000,
            maxDupTokenFrac = 0.6, maxTopBigramFrac = 0.5, minAlphaRatio = 0.5))
        .orderBy("doc_id")),

    // Deterministic ±1 random projection (J-L dimensionality reduction);
    // exact doubles — the oracle folds components in the same order. The
    // gate output is exploded to scalar rows (vec_id, dim_idx, proj_value):
    // the driver's pandas compare cannot sort/hash array columns. The
    // array-returning API (Similarity.randomProjection) is unchanged.
    "q_embed_project" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(Similarity.randomProjection(col("embedding"), 16)).as(Seq("dim_idx", "proj_value")))
        .select(col("vec_id"), col("dim_idx").cast("long").as("dim_idx"), col("proj_value"))
        .orderBy("vec_id", "dim_idx")),

    // Int8 quantization digest: per-vector scale + exact integer sums of
    // the quantized components (scalar-only gate output; the byte arrays
    // themselves are spec-checked for round-trip quality).
    "q_embed_quantize" -> ((s, dir) => {
      // The quantized vector is a BINARY blob (Array[Byte] kernel) — digest
      // it to exact integer sums for the scalar-only gate contract.
      val qSum = udf { (q: Array[Byte]) =>
        var acc = 0L; var i = 0; while (i < q.length) { acc += q(i); i += 1 }; acc
      }
      val qL1 = udf { (q: Array[Byte]) =>
        var acc = 0L; var i = 0; while (i < q.length) { acc += math.abs(q(i).toLong); i += 1 }; acc
      }
      t(s, dir, "embeddings")
        .select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("qz"))
        .select(
          col("vec_id"),
          round(col("qz._1"), 6).as("scale"),
          qSum(col("qz._2")).as("q_sum"),
          qL1(col("qz._2")).as("q_l1")
        )
        .orderBy("vec_id")
    }),

    // Term-distribution drift between two corpus halves (even/odd doc_id):
    // per-term smoothed probabilities + pointwise KL both directions,
    // fixed-point nano-nats (single ln per row — no summation-order FP).
    "q_term_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.TextAnalysis.termDrift(
          docs.where(pmod(col("doc_id"), lit(2)) === 0),
          docs.where(pmod(col("doc_id"), lit(2)) === 1),
          "text")
        .select(
          col("term"), col("c_a"), col("c_b"),
          floor(col("kl_ab") * 1e9 + lit(0.5)).cast("long").as("kl_ab_nano"),
          floor(col("kl_ba") * 1e9 + lit(0.5)).cast("long").as("kl_ba_nano")
        )
        .orderBy("term")
    }),

    // Tokenizer-prep vocabulary: smallest count-ranked vocab reaching 90%
    // token coverage, ties at the cutoff count admitted.
    "q_vocab_coverage" -> ((s, dir) =>
      graft.operators.TextAnalysis.vocabulary(t(s, dir, "documents"), "text", coverage = 0.9)
        .orderBy("rank")),

    // Leakage-safe split: near-dup clusters keyed by their representative
    // so a near-dup family never straddles train/test. Oracle composes
    // the clusters CTE with the split-bucket arithmetic.
    "q_split_leakage_safe" -> ((s, dir) =>
      graft.operators.Sampling.leakageSafeSplit(
          t(s, dir, "documents").select("doc_id", "text"), "text", "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
        .orderBy("doc_id")),

    // URL-level dedup over derived messy URLs (mixed case, default port,
    // trailing slash, tracking params, unsorted query, fragment — all
    // doc_id-deterministic). The oracle states the closed-form canonical
    // URL each variant must collapse to and replays the dedup.
    "q_url_dedup" -> ((s, dir) => {
      val m3 = pmod(col("doc_id"), lit(3))
      val url = concat(
        when(pmod(col("doc_id"), lit(2)) === 0, lit("HTTP://")).otherwise(lit("http://")),
        lit("Site"), pmod(col("doc_id"), lit(7)).cast("string"), lit(".Example.COM"),
        when(m3 === 0, lit(":80")).otherwise(lit("")),
        lit("/Page/"), pmod(col("doc_id"), lit(5)).cast("string"),
        when(pmod(col("doc_id"), lit(4)) === 0, lit("/")).otherwise(lit("")),
        when(m3 === 1, lit("?utm_source=x&b=2&a=1"))
          .when(m3 === 2, lit("?a=1&b=2")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(6)) === 0, lit("#frag")).otherwise(lit(""))
      )
      val urls = t(s, dir, "documents").select(col("doc_id"), url.as("url"))
      graft.operators.TextAnalysis.dedupByCanonicalUrl(urls, "url", "doc_id")
        .orderBy("canonical_url")
    }),

    // Bigram-LM perplexity quality scoring (CCNet/KenLM-style filter):
    // add-one-smoothed bigram model trained on the corpus itself, docs
    // scored by average negative log-likelihood. nll emitted fixed-point
    // (milli-nats, floor(x·1000 + 0.5)) — ln summation order differs
    // between engines at ~1e-13, far inside the fixed-point step; the
    // kept decision thresholds at 3.45 (no fixture doc within 1e-3).
    "q_text_lm_score" -> ((s, dir) =>
      graft.operators.TextAnalysis.lmQualityScore(t(s, dir, "documents"), "text", "doc_id", nllThreshold = 3.45)
        .select(
          col("doc_id"),
          col("n_bigrams"),
          floor(col("nll") * 1000 + lit(0.5)).cast("long").as("nll_milli"),
          col("kept")
        )
        .orderBy("doc_id")),

    // The SERVING form of the same filter: lmTrainCompact collects the
    // model once (ExactGuard-bounded), lmScoreScanLocal scores the corpus
    // scan-locally against the broadcast — no shuffle, no joins, the shape
    // a production quality filter (and the streaming spec) actually runs.
    // Same oracle as q_text_lm_score: the two scorers agree to summation
    // order, absorbed by the milli-nat fixed point.
    "q_text_lm_score_local" -> ((s, dir) => {
      val docs  = t(s, dir, "documents")
      val model = graft.operators.TextAnalysis.lmTrainCompact(docs, "text")
      docs
        .select(col("doc_id"),
          graft.operators.TextAnalysis.lmScoreScanLocal(model, s)(col("text")).as("sc"))
        .select(
          col("doc_id"),
          col("sc._1").cast("long").as("n_bigrams"),
          floor(col("sc._2") * 1000 + lit(0.5)).cast("long").as("nll_milli"),
          (col("sc._2") < 3.45).as("kept")
        )
        .orderBy("doc_id")
    }),

    // The whole preprocessing chain in one call: exact dedup → quality
    // filter → self-trained LM perplexity filter → hash split. Hashing the
    // per-doc output pins the stage SEAMS (which corpus each stage sees,
    // in which order), not just the stages — the oracle replays the exact
    // composition. nll emitted fixed-point (milli-nats) as in
    // q_text_lm_score.
    "q_corpus_prepare" -> ((s, dir) =>
      graft.operators.CorpusPipeline.prepare(t(s, dir, "documents"), "text", "doc_id")
        .select(
          col("doc_id"), col("n_tokens"),
          floor(col("nll") * 1000 + lit(0.5)).cast("long").as("nll_milli"),
          col("split")
        )
        .orderBy("doc_id")),

    // The near-dup-aware variant: stage 1 is the full cluster dedup
    // (subsumes exact dedup — exact dups cluster at jaccard = 1), after
    // which the plain hash split is leakage-safe by construction.
    "q_corpus_prepare_neardup" -> ((s, dir) =>
      graft.operators.CorpusPipeline.prepareNearDupAware(t(s, dir, "documents"), "text", "doc_id")
        .select(
          col("doc_id"), col("n_tokens"),
          floor(col("nll") * 1000 + lit(0.5)).cast("long").as("nll_milli"),
          col("split")
        )
        .orderBy("doc_id")),

    // C4-style corpus-level line dedup over derived multi-line text: known
    // boilerplate lines (newsletter banner, share button with 3 variants,
    // copyright footer) are injected into every document around two
    // body-slice lines and a below-threshold "promo N" line — the
    // boilerplate must vanish corpus-wide, the rare lines survive, and
    // each document reassembles in line order (hashed, since text is long).
    "q_text_line_dedup" -> ((s, dir) => {
      val nl = lit("\n")
      val derived = concat(
        lit("SUBSCRIBE TO OUR NEWSLETTER"), nl,
        substring(col("text"), 1, 60), nl,
        substring(col("text"), 61, 60), nl,
        lit("share this article "), pmod(col("doc_id"), lit(3)).cast("string"), nl,
        lit("promo "), pmod(col("doc_id"), lit(250)).cast("string"), nl,
        lit("COPYRIGHT 2024 EXAMPLE CORP")
      )
      TextAnalysis.dedupRepeatedLines(
        t(s, dir, "documents").select(col("doc_id"), derived.as("text")), "text", "doc_id")
        .select(col("doc_id"), col("n_lines_kept"), md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),

    // URL extraction over derived text with known links embedded.
    "q_text_urls" -> ((s, dir) => {
      val derived = concat(
        substring(col("text"), 1, 20),
        lit(" see https://site"), pmod(col("doc_id"), lit(7)).cast("string"), lit(".example.com/page"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit(" and http://example.org/x")).otherwise(lit(""))
      )
      t(s, dir, "documents").select(
        col("doc_id"),
        size(TextAnalysis.extractUrls(derived)).cast("long").as("n_urls"),
        TextAnalysis.urlHost(element_at(TextAnalysis.extractUrls(derived), 1)).as("first_host")
      ).orderBy("doc_id")
    }),

    // Single-pass data-quality profile (counts/nulls/distinct/min/max per
    // column) over orders.
    "q_profile" -> ((s, dir) => {
      import graft.operators.Profiler
      Profiler.profile(t(s, dir, "orders"), Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
        .orderBy("column_name")
    }),

    // The HLL regime (DistinctMode forced to Approx) — the estimator that
    // actually runs past Auto's 50M-row bound at 100-TB scale. SELF-CHECKING
    // gate: cross-engine HLL hash parity is not achievable (DuckDB's
    // approx_count_distinct is a different sketch), so the gate joins the
    // HLL profile against the exact one and hashes the ≤2%-relative-error
    // verdict per column (plus the mode-independent exact stats); the
    // oracle expects TRUE for every column. approx_count_distinct is
    // deterministic for fixed input, so the verdict is replay-stable.
    "q_profile_hll" -> ((s, dir) => {
      import graft.operators.Profiler
      val cols  = Seq("o_orderkey", "o_orderstatus", "o_totalprice")
      val exact = Profiler.profile(t(s, dir, "orders"), cols, Profiler.DistinctMode.Exact)
        .select(col("column_name"), col("n_distinct").as("nd_exact"))
      Profiler.profile(t(s, dir, "orders"), cols, Profiler.DistinctMode.Approx(rsd = 0.01))
        .join(exact, "column_name")
        .select(
          col("column_name"), col("n_rows"), col("n_nulls"),
          (abs(col("n_distinct") - col("nd_exact")).cast("double") <=
            col("nd_exact").cast("double") * 0.02).as("hll_within_2pct"),
          col("min_value"), col("max_value")
        )
        .orderBy("column_name")
    }),

    // Heavy-hitter terms via the mergeable Misra-Gries sketch, pinned in
    // its EXACT regime: the fixture vocabulary is far below the 65k
    // capacity, so the sketch never evicts (err_bound = 0 on every row)
    // and the top-k matches the exact GROUP BY oracle bit-for-bit — the
    // same exact-below/approx-above contract as q_profile_hll, but for
    // frequency instead of cardinality. At 100 TB the token stream never
    // shuffles: per-partition capacity-bounded summaries treeReduce down.
    "q_profile_heavy_hitters" -> ((s, dir) => {
      import graft.operators.Profiler
      Profiler.heavyHitterTerms(t(s, dir, "documents"), "text", topK = 25)
        .orderBy(col("est_count").desc, col("term"))
    }),

    // Multimodal metadata decode over a derived binary column (the stub
    // kernel is deterministic stableHash arithmetic — fully oracle-able).
    "q_multimodal_meta" -> ((s, dir) => {
      import graft.operators.Multimodal
      t(s, dir, "documents")
        .select(col("doc_id"), Multimodal.decodeMeta(encode(col("text"), "UTF-8")).as("meta"))
        .select(
          col("doc_id"),
          col("meta._1").cast("long").as("w"),
          col("meta._2").cast("long").as("h"),
          col("meta._3").cast("long").as("c"),
          col("meta._4").cast("long").as("n_bytes")
        )
        .orderBy("doc_id")
    }),

    // REAL image codec round trip: deterministic PNGs are generated with
    // the actual JDK encoder (dimensions/pixels arithmetic functions of
    // doc_id) and decoded back with the actual JDK decoder
    // (Multimodal.decodeImageMeta) — width, height, band count, and a
    // decoded pixel sample must survive the codec. The oracle recomputes
    // the arithmetic; n_bytes is intentionally NOT gated (PNG compressed
    // size is codec-internal, not content semantics).
    "q_multimodal_image" -> ((s, dir) => {
      import graft.operators.Multimodal
      t(s, dir, "documents")
        .select(col("doc_id"), Multimodal.decodeImageMeta(Multimodal.syntheticPng(col("doc_id"))).as("meta"))
        .select(
          col("doc_id"),
          col("meta._1").cast("long").as("w"),
          col("meta._2").cast("long").as("h"),
          col("meta._3").cast("long").as("c"),
          col("meta._5").cast("long").as("px00")
        )
        .orderBy("doc_id")
    }),

    // REAL video-container metadata parse (ISO-BMFF box walk — no codec
    // involved, none exists in the JDK; frame decode stays stubbed):
    // synthetic well-formed MP4 box trees round-tripped through the
    // parser, oracle replays the arithmetic.
    "q_multimodal_video" -> ((s, dir) => {
      import graft.operators.Multimodal
      t(s, dir, "documents")
        .select(col("doc_id"), Multimodal.decodeMp4Meta(Multimodal.syntheticMp4(col("doc_id"))).as("meta"))
        .select(
          col("doc_id"),
          col("meta._1").cast("long").as("timescale"),
          col("meta._2").cast("long").as("duration"),
          col("meta._3").cast("long").as("w"),
          col("meta._4").cast("long").as("h")
        )
        .orderBy("doc_id")
    }),

    // REAL audio decode (javax.sound.sampled): synthetic WAVs with
    // arithmetic format/samples → WAV encode → real parse; the oracle
    // replays the arithmetic. s00 is a decoded-PCM probe (first frame,
    // channel 0) proving actual sample data was read.
    "q_multimodal_audio" -> ((s, dir) => {
      import graft.operators.Multimodal
      t(s, dir, "documents")
        .select(col("doc_id"), Multimodal.decodeAudioMeta(Multimodal.syntheticWav(col("doc_id"))).as("meta"))
        .select(
          col("doc_id"),
          col("meta._1").cast("long").as("rate"),
          col("meta._2").cast("long").as("ch"),
          col("meta._3").cast("long").as("frames"),
          col("meta._5").cast("long").as("s00")
        )
        .orderBy("doc_id")
    }),

    // REAL video frame sampling: deterministic Motion-PNG AVIs are
    // assembled with a real RIFF writer + real PNG encoder (geometry and
    // pixels arithmetic functions of doc_id), then decodeAviFrames walks
    // the actual container and DECODES every 2nd frame — dimensions, band
    // count, and a decoded pixel probe must survive the demux + codec
    // round trip. The oracle recomputes the arithmetic (PNG is lossless,
    // so decoded pixels replay exactly).
    "q_multimodal_frames" -> ((s, dir) => {
      import graft.operators.Multimodal
      val media = t(s, dir, "documents")
        .select(col("doc_id"), Multimodal.syntheticAvi(col("doc_id")).as("content"))
      Multimodal.decodeAviFrames(media, "doc_id", "content", stride = 2)
        .select(
          col("doc_id"),
          col("frame_idx").cast("long").as("frame_idx"),
          col("w").cast("long").as("w"),
          col("h").cast("long").as("h"),
          col("c").cast("long").as("c"),
          col("sample00").cast("long").as("sample00")
        )
        .orderBy("doc_id", "frame_idx")
    }),

    // The MP4 member of the frame-decode family: Motion-PNG frames muxed
    // into a REAL ISO-BMFF sample table (stsz sizes + stco offsets + stsc
    // runs), demuxed back through that table's offset walk — the actual
    // MP4 demux algorithm — and every 2nd frame decoded with the real PNG
    // codec. Same per-pixel arithmetic oracle as q_multimodal_frames
    // (salt "mp4f"); shrinks the video stub to codecs the JDK lacks.
    "q_multimodal_mp4_frames" -> ((s, dir) => {
      import graft.operators.Multimodal
      val media = t(s, dir, "documents")
        .select(col("doc_id"), Multimodal.syntheticMp4Frames(col("doc_id")).as("content"))
      Multimodal.decodeMp4Frames(media, "doc_id", "content", stride = 2)
        .select(
          col("doc_id"),
          col("frame_idx").cast("long").as("frame_idx"),
          col("w").cast("long").as("w"),
          col("h").cast("long").as("h"),
          col("c").cast("long").as("c"),
          col("sample00").cast("long").as("sample00")
        )
        .orderBy("doc_id", "frame_idx")
    }),

    // The LOSSY-codec member of the family: real JPEG frames through the
    // same ISO-BMFF mux/demux, decoded by the JRE's actual JPEG codec.
    // Flat grayscale frames round-trip exactly at max quality, so the
    // pixel oracle stays arithmetic (salt "mp4j") while the decode is the
    // genuine quantize/DCT path — shrinking the video caveat to codecs
    // the JDK lacks entirely (H.264).
    "q_multimodal_mp4_jpeg" -> ((s, dir) => {
      import graft.operators.Multimodal
      val media = t(s, dir, "documents")
        .select(col("doc_id"), Multimodal.syntheticMp4FramesJpeg(col("doc_id")).as("content"))
      Multimodal.decodeMp4Frames(media, "doc_id", "content", stride = 2)
        .select(
          col("doc_id"),
          col("frame_idx").cast("long").as("frame_idx"),
          col("w").cast("long").as("w"),
          col("h").cast("long").as("h"),
          col("c").cast("long").as("c"),
          col("sample00").cast("long").as("sample00")
        )
        .orderBy("doc_id", "frame_idx")
    }),

    // WebDataset corpus shape END-TO-END: documents → REAL ustar shards
    // of (png, txt, json) sample triplets → scan-local entry walk +
    // adjacency sample assembly → REAL PNG decode to a dHash. The image
    // is the fingerprint fixture's textured PNG, so its dHash oracle
    // replays arithmetically; caption/meta certify byte-exact extraction.
    "q_multimodal_tar_extract" -> ((s, dir) => {
      import graft.operators.Multimodal
      val shards = Multimodal.syntheticTarShards(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.webdatasetSamples(shards, "shard_id", "content")
        .select(
          col("key").cast("long").as("doc_id"),
          Multimodal.imageDHash(col("image")).as("dh"),
          md5(col("caption")).as("caption_md5"),
          col("meta"))
        .orderBy("doc_id")
    }),

    // The WRITE side closing the round trip: rows exported as tar shard
    // FILES through the Hadoop FS API from executors (no driver funnel),
    // re-read through the binaryFile source, re-extracted. Output and
    // oracle are exactly q_multimodal_tar_extract's — same digests, the
    // mechanism under test is export→disk→binaryFile→extract.
    "q_multimodal_tar_export" -> ((s, dir) => {
      import graft.operators.Multimodal
      val samples = t(s, dir, "documents").select(
        col("doc_id"),
        Multimodal.syntheticPngTextured(col("doc_id")).as("image"),
        col("text").as("caption"),
        concat(lit("{\"id\":"), col("doc_id").cast("string"),
          lit(",\"len\":"), length(col("text")).cast("string"), lit("}")).as("meta"))
      val out = Multimodal.freshExportDir()
      Multimodal.exportWebdataset(samples, "doc_id", "image", "caption", "meta", out)
      val fromDisk = s.read.format("binaryFile").load(s"$out/shard-*.tar")
        .select(lit(0L).as("shard_id"), col("content"))
      Multimodal.webdatasetSamples(fromDisk, "shard_id", "content")
        .select(
          col("key").cast("long").as("doc_id"),
          Multimodal.imageDHash(col("image")).as("dh"),
          md5(col("caption")).as("caption_md5"),
          col("meta"))
        .orderBy("doc_id")
    }),

    // The gzip-compressed round trip (.tar.gz — the other common shard
    // encoding): same digests again, the mechanism under test being
    // GZIP deflate on export and the scan-local magic-sniffed inflate
    // on read.
    "q_multimodal_tar_gzip" -> ((s, dir) => {
      import graft.operators.Multimodal
      val samples = t(s, dir, "documents").select(
        col("doc_id"),
        Multimodal.syntheticPngTextured(col("doc_id")).as("image"),
        col("text").as("caption"),
        concat(lit("{\"id\":"), col("doc_id").cast("string"),
          lit(",\"len\":"), length(col("text")).cast("string"), lit("}")).as("meta"))
      val out = Multimodal.freshExportDir()
      Multimodal.exportWebdataset(samples, "doc_id", "image", "caption", "meta", out, gzip = true)
      val fromDisk = s.read.format("binaryFile").load(s"$out/shard-*.tar.gz")
        .select(lit(0L).as("shard_id"), col("content"))
      Multimodal.webdatasetSamples(fromDisk, "shard_id", "content")
        .select(
          col("key").cast("long").as("doc_id"),
          Multimodal.imageDHash(col("image")).as("dh"),
          md5(col("caption")).as("caption_md5"),
          col("meta"))
        .orderBy("doc_id")
    }),

    // CONTINUOUS-CRAWL ingest: the same shard files consumed through a
    // Structured Streaming binaryFile source (maxFilesPerTrigger — a few
    // whole shards per micro-batch, AvailableNow drains then stops), the
    // scan-local sample assembly unchanged on the streaming frame. Sample
    // content is micro-batch invariant → tar_extract's oracle verbatim.
    "q_multimodal_tar_stream" -> ((s, dir) => {
      import graft.operators.Multimodal
      graft.streaming.StreamGates.webdatasetIngestViaStream(s, dir)
        .select(
          col("key").cast("long").as("doc_id"),
          Multimodal.imageDHash(col("image")).as("dh"),
          md5(col("caption")).as("caption_md5"),
          col("meta"))
        .orderBy("doc_id")
    }),

    // The shard-level entry walk: per-shard entry census — counts, the
    // ordered png name chain, and the txt payload bytes (exercises the
    // octal size parse against an arithmetic oracle).
    "q_multimodal_tar_entries" -> ((s, dir) => {
      import graft.operators.Multimodal
      val shards = Multimodal.syntheticTarShards(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.tarEntries(shards, "shard_id", "content")
        .groupBy("shard_id")
        .agg(
          count(lit(1)).as("n_entries"),
          md5(concat_ws(",",
            sort_array(collect_list(when(col("entry_name").endsWith(".png"), col("entry_name"))))))
            .as("png_names_md5"),
          sum(when(col("entry_name").endsWith(".txt"), col("n_bytes")).otherwise(0L)).as("txt_bytes"))
        .orderBy("shard_id")
    }),

    // The raw fixed-width chunker (headerless payloads) retains its own
    // gate shape: fixed 32-byte frames, every 2nd kept — chunk arithmetic
    // and blob slices match the oracle byte-for-byte. The gate emits
    // md5(frame) hex instead of raw bytes: the driver's pandas compare
    // cannot sort/hash binary columns.
    "q_multimodal_chunks" -> ((s, dir) => {
      import graft.operators.Multimodal
      val media = t(s, dir, "documents").select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))
      Multimodal.sampleFrames(media, "doc_id", "content", frameBytes = 32, stride = 2)
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"), md5(col("frame")).as("frame_md5"))
        .orderBy("doc_id", "frame_idx")
    })
  )

  // ---------------------------------------------------------------------
  // Oracles: equivalent DuckDB SQL over the same parquet tables.
  // ---------------------------------------------------------------------
  /** Shared by `q_text_excise_serve` and its streamed twin
    * `q_text_excise_stream` (the stream probes the SAME frozen index per
    * micro-batch, so the result contract is identical): corpus half's
    * DISTINCT 30-grams are the contamination set; the probe half replays
    * the island-merge + complement-stitch tail verbatim.
    */
  private def exciseServeOracleSql: String =
    """WITH mx AS (SELECT max(doc_id) // 2 AS s FROM documents),
      |corpus AS (SELECT text FROM documents, mx WHERE doc_id <= s),
      |probe AS (SELECT doc_id, text FROM documents, mx WHERE doc_id > s),
      |cg AS (SELECT DISTINCT substr(text, CAST(pos AS INT), 30) AS g FROM
      |  (SELECT text, unnest(range(1, greatest(length(text) - 30 + 2, 1))) AS pos FROM corpus)),
      |pgr AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos, substr(text, CAST(pos AS INT), 30) AS g FROM
      |  (SELECT doc_id, text, unnest(range(1, greatest(length(text) - 30 + 2, 1))) AS pos FROM probe)),
      |hits AS (SELECT doc_id, pos FROM pgr WHERE g IN (SELECT g FROM cg)),
      |marks AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos > coalesce(max(pos + 30) OVER (PARTITION BY doc_id ORDER BY pos
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS new_island
      |  FROM hits),
      |islands AS (
      |  SELECT doc_id, pos, sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM marks),
      |rem AS (SELECT doc_id, isl, min(pos) AS sp, max(pos) + 30 AS e FROM islands GROUP BY doc_id, isl),
      |kept AS (
      |  SELECT r.doc_id, d.text,
      |         coalesce(lag(r.e) OVER (PARTITION BY r.doc_id ORDER BY r.sp), 1) AS ks, r.sp AS ke
      |  FROM rem r JOIN probe d USING (doc_id)
      |  UNION ALL
      |  SELECT r.doc_id, d.text, max(r.e) AS ks, length(d.text) + 1 AS ke
      |  FROM rem r JOIN probe d USING (doc_id) GROUP BY r.doc_id, d.text),
      |clean AS (
      |  SELECT doc_id, string_agg(substr(text, CAST(ks AS INT), CAST(ke - ks AS INT)), '' ORDER BY ks) AS ctext
      |  FROM kept GROUP BY doc_id),
      |spans AS (SELECT doc_id, count(*) AS n_spans, sum(e - sp) AS removed FROM rem GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(c.ctext, d.text) AS clean_text,
      |       CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans,
      |       CAST(coalesce(s.removed, 0) AS BIGINT) AS n_removed_chars
      |FROM probe d LEFT JOIN clean c USING (doc_id) LEFT JOIN spans s USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  def oracleSql: Map[String, String] = {
    import OracleGen._
    Map(
      "q_scan_filter_project" ->
        """SELECT c_custkey, c_name, c_acctbal FROM customer
          |WHERE c_acctbal > 5000 AND c_mktsegment = 'BUILDING' ORDER BY c_custkey""".stripMargin,

      "q_topn" ->
        "SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders ORDER BY o_orderkey DESC LIMIT 100",

      "q_agg_group" ->
        """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
          |CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
          |CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
          |FROM lineitem GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin,

      "q_count_filter" ->
        "SELECT count(*) AS cnt FROM lineitem WHERE l_quantity > 25",

      "q_max_plus_one" ->
        "SELECT coalesce(max(o_orderkey), 0) + 1 AS next_id FROM orders",

      "q_semijoin" ->
        """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
          |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
          |ORDER BY l_orderkey, l_linenumber""".stripMargin,

      "q_propagation_2hop" ->
        """SELECT l_orderkey, l_linenumber FROM lineitem
          |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_custkey IN
          |  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'))
          |ORDER BY l_orderkey, l_linenumber""".stripMargin,

      // Replays the whole Graft.run pipeline in SQL: the customer filter,
      // its propagation through orders to lineitem (semi-join IN chains),
      // and every anonymizer, then reduces each table to the same
      // (rows, checksum-sum, decimal-sum) summary the gate computes from
      // the parquet Graft.run actually wrote. sum() over BIGINT hashes is
      // order-independent, so the compare is layout-agnostic; CAST to
      // BIGINT because DuckDB widens integer sums to HUGEINT.
      "q_graft_e2e" -> {
        import OracleGen._
        def row(tbl: String, from: String, strSql: String, numSql: Option[String]) = {
          val num = numSql
            .map(c => s"CAST(sum(CAST($c AS DECIMAL(18,2))) AS DOUBLE)")
            .getOrElse("0.0")
          s"""SELECT '$tbl' AS table_name, count(*) AS n_rows,
             |CAST(coalesce(sum(${hashSql(strSql)}), 0) AS BIGINT) AS str_checksum,
             |$num AS num_sum FROM $from""".stripMargin
        }
        val cw = "concat_ws('|', "
        s"""WITH c AS (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING'),
           |o AS (SELECT * FROM orders WHERE o_custkey IN (SELECT c_custkey FROM c)),
           |li AS (SELECT * FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM o))
           |SELECT * FROM (
           |${row("region", "region", cw + "r_regionkey, r_name)", None)}
           |UNION ALL
           |${row("nation", "nation", cw + "n_nationkey, n_name)", None)}
           |UNION ALL
           |${row("customer", "c", cw + s"c_custkey, ${fullName("c_name")}, c_mktsegment)", Some("c_acctbal"))}
           |UNION ALL
           |${row("supplier", "supplier", cw + s"s_suppkey, ${redact("s_name")})", Some("s_acctbal"))}
           |UNION ALL
           |${row("part", "part", cw + s"p_partkey, ${partialRedact("p_brand", 2, 2)})", Some("p_retailprice"))}
           |UNION ALL
           |${row("orders", "o", cw + s"o_orderkey, o_custkey, o_orderstatus, ${loremText("o_orderpriority")})", Some("o_totalprice"))}
           |UNION ALL
           |${row("lineitem", "li", cw + "l_orderkey, l_linenumber, l_returnflag, l_linestatus)", Some("l_extendedprice"))}
           |) ORDER BY table_name""".stripMargin
      },

      "q_selfref_closure" ->
        """WITH RECURSIVE
          |h AS (SELECT c_custkey AS id,
          |             CASE WHEN c_custkey > 0 THEN c_custkey // 2 END AS parent_id,
          |             c_acctbal FROM customer),
          |b AS (SELECT * FROM h WHERE c_acctbal > 1000),
          |r AS (SELECT id FROM b WHERE parent_id IS NULL
          |      UNION
          |      SELECT t.id FROM b t JOIN r ON t.parent_id = r.id)
          |SELECT id FROM b WHERE parent_id IS NULL OR parent_id IN (SELECT id FROM r)
          |ORDER BY id""".stripMargin,

      "q_topo_levels" ->
        """SELECT * FROM (VALUES ('customer', 2), ('lineitem', 4), ('nation', 1),
          |('orders', 3), ('part', 0), ('region', 0), ('supplier', 2))
          |AS t(table_name, lvl) ORDER BY table_name""".stripMargin,

      "q_anon_names" ->
        s"""SELECT c_custkey, ${firstName("c_name")} AS fn, ${maleFirstName("c_name")} AS mfn,
           |${femaleFirstName("c_name")} AS ffn, ${lastName("c_name")} AS ln,
           |${fullName("c_name")} AS full_name
           |FROM customer ORDER BY c_custkey""".stripMargin,

      "q_anon_contact" ->
        s"""SELECT c_custkey, ${email("c_name")} AS email, ${phoneNumber("c_name")} AS phone,
           |${streetAddress("c_name")} AS street, ${city("c_name")} AS city,
           |${state("c_name")} AS st, ${stateAbbr("c_name")} AS st_abbr,
           |${country("c_name")} AS country, ${zipCode("c_name")} AS zip
           |FROM customer ORDER BY c_custkey""".stripMargin,

      "q_anon_redact" ->
        s"""SELECT c_custkey, ${redact("c_mktsegment")} AS seg_redacted,
           |${partialRedact("c_name", 2, 2)} AS pr22, ${partialRedact("c_name", 1, 3)} AS pr13,
           |${loremText("c_name")} AS lorem
           |FROM customer ORDER BY c_custkey""".stripMargin,

      "q_lens_field" ->
        s"""SELECT c_custkey,
           |'{"name":"' || ${fullName("c_name")} || '","seg":"' || c_mktsegment || '"}' AS anon_json
           |FROM customer ORDER BY c_custkey""".stripMargin,

      "q_lens_array" ->
        s"""SELECT c_custkey,
           |'[{"type":"home","number":"' || ${phoneNumber("c_name")} ||
           |'"},{"type":"work","number":"' || ${phoneNumber("c_mktsegment")} || '"}]' AS anon_array
           |FROM customer ORDER BY c_custkey""".stripMargin,

      "q_lens_numeric_passthrough" ->
        """SELECT event_id, '{"k":' || json_extract_string(props, '$.k') || '}' AS props_out
          |FROM events ORDER BY event_id""".stripMargin,

      "q_events_window" ->
        """SELECT date_trunc('hour', ts) AS hour_start, event_type, count(*) AS cnt,
          |CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin
    ) ++ relationalOracles ++ analyticsOracles ++ pipelineOracles ++ streamingOracles ++
      scaleOracles
  }

  /** Exact-kNN oracle over the `vec_id < 5` query set — shared by the
    * brute-force gate and the full-probe IVF gate (which must equal it).
    */
  private def exactKnnOracle(k: Int): String = {
    import OracleGen.cosineSql
    s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
       |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
       |sc AS (SELECT query_id, neighbor_id, ${cosineSql("qv", "cv")} AS cos
       |       FROM q, c WHERE query_id <> neighbor_id),
       |r AS (SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM sc)
       |SELECT query_id, neighbor_id, rnk FROM r WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** [[exactKnnOracle]] with the hard-negative cosine band applied before
    * the per-query ranking (q_mine_hard_negatives).
    */
  private def bandedKnnOracle(k: Int, minCos: Double, maxCos: Double): String = {
    import OracleGen.cosineSql
    s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
       |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
       |sc AS (SELECT query_id, neighbor_id, ${cosineSql("qv", "cv")} AS cos
       |       FROM q, c WHERE query_id <> neighbor_id),
       |r AS (SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
       |      FROM sc WHERE cos >= $minCos AND cos < $maxCos)
       |SELECT query_id, neighbor_id, rnk FROM r WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  // Oracles for the scale-primitives wave. The dHash oracle replays the
  // whole perceptual pipeline arithmetically: synthetic pixel values are
  // stableHash functions of doc_id, nearest-neighbor resampling is integer
  // floor division, and each of the 63 ordering comparisons contributes
  // one bit (bit_or of shifted 1s — index ≤ 62 keeps everything in
  // non-negative BIGINT range on both engines).
  /** dHash replay CTEs + the jittered-probe serving oracle, hoisted to
    * object scope: shared by the scale-wave gates and the forget-flow
    * gate's fingerprint leg (pipelineOracles).
    */
  private lazy val dhashCtes: String = {
    import OracleGen._
    {
      val h0  = hashSql("('png' || doc_id)")
      val hpx = hashSql("('px' || doc_id || ':' || sx || ':' || sy)")
      s"""hv AS (SELECT doc_id, $h0 AS h0 FROM documents),
         |dims AS (SELECT doc_id, 8 + h0 % 9 AS w, 9 + (h0 // 16) % 8 AS ht,
         |         (doc_id % 3) * 16 AS j FROM hv),
         |grid AS (SELECT gx.x AS x, gy.y AS y
         |         FROM (SELECT unnest(range(0, 8)) AS x) gx
         |         CROSS JOIN (SELECT unnest(range(0, 9)) AS y) gy),
         |sp AS (SELECT doc_id, j, x, y, (x * w) // 8 AS sx, (y * ht) // 9 AS sy
         |       FROM dims CROSS JOIN grid),
         |px AS (SELECT doc_id, x, y,
         |         ($hpx % 256) AS v,
         |         least(($hpx % 256) + j, 255) AS vj
         |       FROM sp),
         |bits AS (SELECT a.doc_id,
         |         coalesce(bit_or(CASE WHEN b.v > a.v
         |           THEN 1::BIGINT << CAST(a.y * 7 + a.x AS INTEGER) ELSE 0 END), 0) AS dh,
         |         coalesce(bit_or(CASE WHEN b.vj > a.vj
         |           THEN 1::BIGINT << CAST(a.y * 7 + a.x AS INTEGER) ELSE 0 END), 0) AS dhj
         |         FROM px a JOIN px b ON a.doc_id = b.doc_id AND b.y = a.y AND b.x = a.x + 1
         |         WHERE a.x < 7
         |         GROUP BY a.doc_id)""".stripMargin
    }
  }

  private lazy val phashServeOracleSql: String =
    s"""WITH $dhashCtes
       |SELECT j.doc_id + 10000000 AS doc_id, o.doc_id AS matched_id,
       |CAST(bit_count(xor(j.dhj, o.dh)) AS BIGINT) AS hamming
       |FROM bits j JOIN bits o ON bit_count(xor(j.dhj, o.dh)) <= 3
       |ORDER BY doc_id, matched_id""".stripMargin

  private def scaleOracles: Map[String, String] = {
    import OracleGen._
    val attributionOracleSql =
      """SELECT c.user_id AS user_id, epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us
        |FROM events c JOIN events p ON c.user_id = p.user_id
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |ORDER BY c.user_id, click_us, purchase_us""".stripMargin
    val attributionOuterOracleSql =
      """SELECT c.user_id AS user_id, epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us
        |FROM events c LEFT JOIN events p ON c.user_id = p.user_id
        |  AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |WHERE c.event_type = 'click'
        |ORDER BY c.user_id, click_us, purchase_us""".stripMargin
    Map(
      "q_bloom_join" ->
        """SELECT l_returnflag, count(*) AS cnt,
          |CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem
          |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000)
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

      "q_zorder_scan" ->
        """WITH e AS (SELECT user_id,
          |  CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS cents FROM events)
          |SELECT count(*) AS cnt, CAST(sum(cents) AS BIGINT) AS sum_cents,
          |count(DISTINCT user_id) AS n_users
          |FROM e WHERE user_id BETWEEN 3 AND 11 AND cents BETWEEN 2000 AND 6000""".stripMargin,

      "q_multimodal_phash" ->
        s"""WITH $dhashCtes
           |SELECT doc_id, dh, dhj, CAST(bit_count(xor(dh, dhj)) AS BIGINT) AS hamming
           |FROM bits ORDER BY doc_id""".stripMargin,

      "q_multimodal_phash_pairs" ->
        s"""WITH $dhashCtes,
           |u AS (SELECT doc_id, dh FROM bits
           |      UNION ALL SELECT doc_id + 10000000, dhj FROM bits)
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |CAST(bit_count(xor(a.dh, b.dh)) AS BIGINT) AS hamming
           |FROM u a JOIN u b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.dh, b.dh)) <= 3
           |ORDER BY doc_a, doc_b""".stripMargin,

      // Serving form: jittered probes vs the originals index — new×old
      // pairs only; the pigeonhole banding and disk round trip must not
      // change one pair.
      "q_multimodal_phash_serve" -> phashServeOracleSql,
      // Streamed serving against the frozen index must equal the batch
      // probe row-for-row (per-probe verdicts are micro-batch invariant).
      "q_multimodal_phash_serve_stream" -> phashServeOracleSql,
      // Build-then-append must be indistinguishable from a one-shot build.
      "q_multimodal_phash_append" -> phashServeOracleSql,
      // Compaction must equal a fresh build on the survivors: the serve
      // replay minus pairs whose indexed side was purged.
      "q_fp_index_compact" ->
        s"""SELECT doc_id, matched_id, hamming FROM ($phashServeOracleSql)
           |WHERE matched_id % 3 <> 0 ORDER BY doc_id, matched_id""".stripMargin,
      // Selective variant: small purge, most bucket partitions carried.
      "q_fp_index_compact_sel" ->
        s"""SELECT doc_id, matched_id, hamming FROM ($phashServeOracleSql)
           |WHERE matched_id % 97 <> 0 ORDER BY doc_id, matched_id""".stripMargin,

      "q_events_attribution"        -> attributionOracleSql,
      // The stream-stream join must land on the batch result row-for-row.
      "q_events_attribution_stream" -> attributionOracleSql,

      "q_events_attribution_outer"        -> attributionOuterOracleSql,
      // Null-padded rows emit only when the watermark closes the band —
      // and must still equal the batch LEFT JOIN row-for-row.
      "q_events_attribution_outer_stream" -> attributionOuterOracleSql,

      // Bounded recursive CTE; min(level) per node = the BFS hop count
      // for every node within the unrolled depth.
      "q_graph_bfs" ->
        """WITH RECURSIVE
          |n AS (SELECT max(doc_id) + 1 AS nn FROM documents),
          |e AS (SELECT doc_id AS src,
          |      unnest([(doc_id * 7 + 1) % nn, (doc_id * 13 + 2) % nn, (doc_id * 29 + 5) % nn]) AS dst
          |      FROM documents, n),
          |bfs(node, lvl) AS (
          |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
          |  UNION
          |  SELECT e.dst, bfs.lvl + 1 FROM bfs JOIN e ON e.src = bfs.node WHERE bfs.lvl < 6)
          |SELECT node, min(lvl) AS level FROM bfs GROUP BY node ORDER BY node""".stripMargin,

      "q_events_resample" ->
        """WITH agg AS (
          |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
          |         CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
          |         count(*) AS n FROM events GROUP BY 1, 2),
          |spans AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM agg GROUP BY 1),
          |grid AS (SELECT user_id, unnest(range(d0, d1 + 1)) AS day FROM spans),
          |j AS (SELECT g.user_id, g.day, a.cents, coalesce(a.n, 0) AS n_events
          |      FROM grid g LEFT JOIN agg a USING (user_id, day))
          |SELECT user_id, day,
          |  last_value(cents IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day) AS cents_filled,
          |  n_events
          |FROM j ORDER BY user_id, day""".stripMargin,

      "q_unpivot" ->
        """WITH src AS (SELECT l_orderkey, l_linenumber,
          |  CAST(l_quantity AS DOUBLE) AS q, CAST(l_extendedprice AS DOUBLE) AS p,
          |  CAST(l_discount AS DOUBLE) AS d
          |  FROM lineitem WHERE l_orderkey % 17 = 0)
          |SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, q AS value FROM src
          |UNION ALL
          |SELECT l_orderkey, l_linenumber, 'l_extendedprice', p FROM src
          |UNION ALL
          |SELECT l_orderkey, l_linenumber, 'l_discount', d FROM src
          |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,

      "q_stats_regression" ->
        """SELECT l_returnflag,
          |round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
          |round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
          |round(corr(l_extendedprice, l_quantity), 4) AS correlation,
          |count(*) AS n
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

      // v1 = the %5≠0 slice, v2 = v1 + the rest (append), v3 = overwrite
      // with every cents shifted by 7 — each snapshot read back verbatim.
      "q_lake_timetravel" ->
        """WITH base AS (SELECT event_id,
          |  CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS cents FROM events)
          |SELECT CAST(1 AS BIGINT) AS version, count(*) AS n, CAST(sum(cents) AS BIGINT) AS s
          |FROM base WHERE event_id % 5 <> 0
          |UNION ALL
          |SELECT 2, count(*), CAST(sum(cents) AS BIGINT) FROM base
          |UNION ALL
          |SELECT 3, count(*), CAST(sum(cents) + 7 * count(*) AS BIGINT) FROM base
          |ORDER BY version""".stripMargin,

      "q_lake_timetravel_stream" ->
        """SELECT CAST(3 AS BIGINT) AS n_versions, count(*) AS n,
          |CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s
          |FROM events""".stripMargin,

      // Each increment = exactly the slice its commit appended.
      "q_lake_increment" ->
        """WITH base AS (SELECT event_id,
          |  CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS cents FROM events)
          |SELECT CAST(event_id % 3 + 1 AS BIGINT) AS step, count(*) AS n,
          |CAST(sum(cents) AS BIGINT) AS s
          |FROM base GROUP BY step ORDER BY step""".stripMargin,

      // The union schema surfaces `day` only for v2's (odd event_id) rows.
      "q_lake_schema_evolution" ->
        """WITH base AS (SELECT event_id, epoch_us(ts) // 86400000000 AS day,
          |  CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS cents FROM events)
          |SELECT count(*) AS n,
          |count(CASE WHEN event_id % 2 = 1 THEN 1 END) AS n_with_day,
          |CAST(sum(cents) AS BIGINT) AS s,
          |CAST(sum(CASE WHEN event_id % 2 = 1 THEN day END) AS BIGINT) AS day_sum
          |FROM base""".stripMargin,

      // Every original emitted exactly once; every +10-min re-emission
      // suppressed (in-state) or dropped (behind the watermark).
      "q_dedup_stream_native" ->
        """SELECT event_id,
          |CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS cents
          |FROM events ORDER BY event_id""".stripMargin,

      // Maintained state ≡ the full-table aggregate.
      "q_lake_incremental_agg" ->
        """SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n,
          |CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s
          |FROM events GROUP BY day ORDER BY day""".stripMargin,

      "q_array_hof" ->
        """WITH a AS (SELECT l_orderkey,
          |  list_sort(list(CAST(l_quantity AS BIGINT))) AS qs
          |  FROM lineitem WHERE l_orderkey % 23 = 0 GROUP BY l_orderkey)
          |SELECT l_orderkey,
          |CAST(list_sum(qs) AS BIGINT) AS total,
          |CAST(len(list_filter(qs, x -> x > 25)) AS BIGINT) AS n_big,
          |CAST(list_sum(list_transform(qs, x -> x * 2)) AS BIGINT) AS doubled_sum
          |FROM a ORDER BY l_orderkey""".stripMargin,

      "q_datetime_funcs" ->
        """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
          |           FROM orders WHERE o_orderkey % 31 = 0)
          |SELECT o_orderkey,
          |CAST(year(d) AS BIGINT) AS yr,
          |CAST(quarter(d) AS BIGINT) AS qtr,
          |CAST(month(d) AS BIGINT) AS mon,
          |CAST(day(d) AS BIGINT) AS dom,
          |CAST(dayofweek(d) + 1 AS BIGINT) AS dow_1sun,
          |last_day(d) AS month_end,
          |CAST(date_trunc('month', d) AS DATE) AS month_start,
          |CAST(datediff('day', DATE '1995-01-01', d) AS BIGINT) AS days_since,
          |d + 30 AS plus_30
          |FROM o ORDER BY o_orderkey""".stripMargin,

      "q_window_suite" ->
        """SELECT o_orderkey, o_orderstatus,
          |CAST(row_number() OVER w AS BIGINT) AS rn,
          |CAST(ntile(4) OVER w AS BIGINT) AS quartile,
          |percent_rank() OVER w AS pct_rank,
          |cume_dist() OVER w AS cume
          |FROM orders WHERE o_orderkey % 11 = 0
          |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
          |ORDER BY o_orderstatus, rn""".stripMargin
    )
  }

  private def minHashOracleSql(hsh3: String, hashI: String, bandKey: String): String =
    s"""WITH docs AS (SELECT doc_id, $hsh3 AS shs FROM documents),
       |sig AS (SELECT doc_id, [list_min([$hashI for h in shs]) for i in range(0, 32)] AS sg FROM docs),
       |bands AS (SELECT doc_id, b, $bandKey AS key FROM sig, range(0, 4) t(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
       |         FROM bands a JOIN bands c ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id),
       |j AS (SELECT doc_a, doc_b,
       |  len(list_intersect(x.shs, y.shs))::DOUBLE /
       |    (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs))) AS jaccard
       |  FROM cand JOIN docs x ON doc_a = x.doc_id JOIN docs y ON doc_b = y.doc_id)
       |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Candidate generation replaying `CandidateMode.Auto` EXACTLY: the
    * capped inverted index when it covers ≥ 50% of documents, the
    * RECALL-DRIVEN MinHash band fallback when the index is blind (the
    * sf0.1 regime — min shingle doc-freq 250 > cap 100). The geometry,
    * the estimate-prune engage decision, and the cutoff all come from the
    * SAME functions the engine calls (`Dedup.recallGeometry(0.8)` /
    * `Dedup.bandPruneCutoff`), so the oracle tracks the engine's regime
    * switch AND its s-curve-derived geometry at any scale factor.
    * Requires a preceding `docs(doc_id, shs)` CTE; ends with
    * `cand(doc_a, doc_b)`.
    */
  private def adaptiveCandCte(hashI: String, bandKey: String): String = {
    val (adNh, adBands) = graft.operators.Dedup.recallGeometry(0.8)
    val adRows    = adNh / adBands
    val adOffsets = graft.operators.Dedup.minHashOffsets(adNh).mkString("[", ",", "]")
    val adHashI   = s"(((2*i+1) * h + ($adOffsets)[(i+1)::BIGINT]) % ${graft.operators.Dedup.MinHashPrime})"
    val adBandKey = (1 to adRows).map(k => s"sg[$adRows*b+$k]::VARCHAR").mkString(" || ':' || ")
    val candBand = graft.operators.Dedup.bandPruneCutoff(0.8, adNh, adBands) match {
      case Some(cut) =>
        // Replays bandedCandidatesFromHashes' estimate prune: distinct
        // collisions, exact eq-component count / numHashes, >= cutoff.
        s"""est AS (SELECT doc_a, doc_b,
           |  (len([i for i in range(1, ${adNh + 1}) if x.sg[i] = y.sg[i]])::DOUBLE / $adNh) AS e
           |  FROM cand_raw JOIN sig x ON doc_a = x.doc_id JOIN sig y ON doc_b = y.doc_id),
           |cand_band AS (SELECT doc_a, doc_b FROM est WHERE e >= $cut)""".stripMargin
      case None =>
        "cand_band AS (SELECT doc_a, doc_b FROM cand_raw)"
    }
    s"""sh AS (SELECT doc_id, unnest(shs) AS sh FROM docs),
       |keep AS (SELECT sh FROM (SELECT sh, count(*) AS f FROM sh GROUP BY 1) WHERE f <= 100),
       |idx AS (SELECT s.doc_id, s.sh FROM sh s JOIN keep k ON s.sh = k.sh),
       |cov AS (SELECT (SELECT count(DISTINCT doc_id) FROM idx) >= 0.5 * (SELECT count(*) FROM docs) AS use_idx),
       |cand_idx AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |             FROM idx a JOIN idx b ON a.sh = b.sh AND a.doc_id < b.doc_id),
       |bdocs AS (SELECT doc_id, shs FROM docs WHERE NOT (SELECT use_idx FROM cov)),
       |sig AS (SELECT doc_id, [list_min([$adHashI for h in shs]) for i in range(0, $adNh)] AS sg FROM bdocs),
       |bands AS (SELECT doc_id, b, $adBandKey AS key FROM sig, range(0, $adBands) t(b)),
       |cand_raw AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
       |             FROM bands a JOIN bands c ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id),
       |$candBand,
       |cand AS (SELECT doc_a, doc_b FROM cand_idx WHERE (SELECT use_idx FROM cov)
       |         UNION ALL
       |         SELECT doc_a, doc_b FROM cand_band WHERE NOT (SELECT use_idx FROM cov))""".stripMargin
  }

  /** Shared recursive-CTE chain computing connected components over the
    * n-gram near-dup pairs (Auto-adaptive candidates → exact Jaccard →
    * symmetric edges → reachability); ends with `reach(a, b)`.
    */
  private def clustersCte(hsh3: String, hashI: String, bandKey: String,
      fromSql: String = "documents", docsCte: Option[String] = None): String =
    s"""${docsCte.getOrElse(s"docs AS (SELECT doc_id, $hsh3 AS shs FROM $fromSql)")},
       |${adaptiveCandCte(hashI, bandKey)},
       |pairs AS (SELECT doc_a, doc_b FROM cand JOIN docs x ON doc_a = x.doc_id JOIN docs y ON doc_b = y.doc_id
       |  WHERE len(list_intersect(x.shs, y.shs))::DOUBLE /
       |    (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs))) >= 0.8),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (SELECT DISTINCT a, a FROM edges
       |                UNION
       |                SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)""".stripMargin

  /** Shared CTE chain for the incremental-dedup gates: split the corpus at
    * max(doc_id)/2 into "existing" (index) and "new batch", compute both
    * sides' 32-hash signatures, band-join at the index-match geometry
    * (8 bands × 4 rows — the same high-recall geometry as the streaming
    * near-dup detector), and keep collisions whose signature estimate
    * k/32 clears 0.8. Ends with `news(doc_id, shs)` and
    * `matched(nid, oid, k)`.
    */
  private def incrementalCte(hsh3: String, hashI: String): String = {
    val bandKey4 = (1 to 4).map(k => s"sg[4*b+$k]::VARCHAR").mkString(" || ':' || ")
    s"""mx AS (SELECT max(doc_id) // 2 AS s FROM documents),
       |olds AS (SELECT doc_id, $hsh3 AS shs FROM documents, mx WHERE doc_id <= s),
       |news AS (SELECT doc_id, $hsh3 AS shs FROM documents, mx WHERE doc_id > s),
       |osig AS (SELECT doc_id, [list_min([$hashI for h in shs]) for i in range(0, 32)] AS sg FROM olds),
       |nsig AS (SELECT doc_id, [list_min([$hashI for h in shs]) for i in range(0, 32)] AS sg FROM news),
       |obd AS (SELECT doc_id, b, $bandKey4 AS key FROM osig, range(0, 8) t(b)),
       |nbd AS (SELECT doc_id, b, $bandKey4 AS key FROM nsig, range(0, 8) t(b)),
       |hits AS (SELECT DISTINCT n.doc_id AS nid, o.doc_id AS oid
       |         FROM nbd n JOIN obd o ON n.b = o.b AND n.key = o.key),
       |matched AS (SELECT nid, oid, k FROM (
       |  SELECT nid, oid, len([i for i in range(1, 33) if ns.sg[i] = os.sg[i]]) AS k
       |  FROM hits JOIN nsig ns ON nid = ns.doc_id JOIN osig os ON oid = os.doc_id)
       |  WHERE k::DOUBLE / 32 >= 0.8)""".stripMargin
  }

  private def pipelineOracles: Map[String, String] = {
    import OracleGen._
    // Term-drift replay: per-term add-one-smoothed KL contributions in
    // both directions over the union vocabulary. Shared verbatim by the
    // streamed drift monitor (running Complete-mode counts converge to
    // the batch histogram).
    val termDriftOracleSql =
      s"""WITH a AS (SELECT token AS term, count(*) AS c_a
         |           FROM (SELECT unnest(${tokensSql("text")}) AS token FROM documents WHERE doc_id % 2 = 0) GROUP BY 1),
         |b AS (SELECT token AS term, count(*) AS c_b
         |      FROM (SELECT unnest(${tokensSql("text")}) AS token FROM documents WHERE doc_id % 2 = 1) GROUP BY 1),
         |j AS (SELECT coalesce(a.term, b.term) AS term, coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b
         |      FROM a FULL OUTER JOIN b ON a.term = b.term),
         |t AS (SELECT sum(c_a) AS na, sum(c_b) AS nb, count(*) AS v FROM j),
         |p AS (SELECT term, c_a, c_b,
         |      (c_a + 1)::DOUBLE / (na + v) AS pa, (c_b + 1)::DOUBLE / (nb + v) AS pb FROM j, t)
         |SELECT term, CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
         |  CAST(floor(pa * ln(pa / pb) * 1e9 + 0.5) AS BIGINT) AS kl_ab_nano,
         |  CAST(floor(pb * ln(pb / pa) * 1e9 + 0.5) AS BIGINT) AS kl_ba_nano
         |FROM p ORDER BY term""".stripMargin
    // Deterministic hyperplane signs (8 planes × 64 dims) for the LSH
    // oracles. Hoisted into a one-row CTE and cross-joined: DuckDB
    // re-evaluates an INLINE nested-list literal per element access
    // (measured 58 s → 0.05 s at sf0.01 for q_knn_lsh), while a CTE column
    // reference is built once. The list_reduce fold order matches the JVM
    // kernel, so the sign-of-dot bucket bits are IEEE-identical.
    val signsCte = {
      val m = graft.operators.Similarity.signMatrix(8, 64)
      val lit = m.map(_.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")).mkString("[", ",", "]")
      s"signs_t AS (SELECT $lit AS sg)"
    }
    val bucketCte =
      """sig AS (SELECT vec_id, ve,
        |  list_sum([CASE WHEN
        |    list_reduce([ve[d+1] * sg[p+1][d+1] for d in range(0, 64)], (x, y) -> x + y) > 0
        |    THEN (2**p)::BIGINT ELSE 0 END for p in range(0, 8)]) AS bucket FROM v, signs_t)""".stripMargin
    val sh3 = shinglesSql("text", 3)
    // Hashed shingle set (sorted distinct stableHash values) — mirrors
    // operators.Dedup.hashedShingles, including collision behavior.
    val hsh3 = s"list_sort(list_distinct(list_transform($sh3, s -> ${hashSql("s")})))"
    // Affine-permutation minhash over the hashed values: ((2i+1)·h + B[i])
    // mod P — mirrors operators.Dedup.minHashSignature (min over the hashed
    // SET equals min over the per-string multiset).
    val offsets = graft.operators.Dedup.minHashOffsets(32).mkString("[", ",", "]")
    val hashI   = s"(((2*i+1) * h + ($offsets)[(i+1)::BIGINT]) % ${graft.operators.Dedup.MinHashPrime})"
    val bandKey = (1 to 8).map(k => s"sg[8*b+$k]::VARCHAR").mkString(" || ':' || ")
    // Supervised-classifier replay: hashed-token counts joined against the
    // pinned micro-unit weights — pure integer arithmetic, exact. Shared
    // by the batch gate and the streamed serving gate.
    val classifierScoreSql = {
      import graft.operators.QualityClassifierPinned
      val wVals = QualityClassifierPinned.nonZero
        .map { case (b, w) => s"($b, $w)" }.mkString(", ")
      s"""WITH tk AS (SELECT doc_id, unnest(${tokensSql("text")}) AS tok FROM documents),
         |f AS (SELECT doc_id, (${hashSql("tok")} % ${QualityClassifierPinned.dim}) AS b, count(*) AS c
         |      FROM tk GROUP BY 1, 2),
         |w(b, wm) AS (VALUES $wVals),
         |s AS (SELECT doc_id, sum(c * wm) AS dot FROM f JOIN w USING (b) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(${QualityClassifierPinned.biasMicro} + coalesce(s.dot, 0) AS BIGINT) AS logit_micro,
         |  (${QualityClassifierPinned.biasMicro} + coalesce(s.dot, 0)) >= 0 AS kept
         |FROM documents d LEFT JOIN s USING (doc_id) ORDER BY d.doc_id""".stripMargin
    }
    // The filter-ensemble replay: all three quality chains (pinned
    // classifier dot product, bigram-LM nll, heuristic metrics) joined on
    // doc_id; flags in a subquery so `kept` is a plain conjunction.
    // Shared verbatim by the batch and streamed ensemble gates, and (as
    // the CTE chain) by the composed streaming-pipeline oracle.
    val ensembleCtes = {
      import graft.operators.QualityClassifierPinned
      val wVals = QualityClassifierPinned.nonZero
        .map { case (b, w) => s"($b, $w)" }.mkString(", ")
      s"""ctk AS (SELECT doc_id, unnest(${tokensSql("text")}) AS tok FROM documents),
         |cf AS (SELECT doc_id, (${hashSql("tok")} % ${QualityClassifierPinned.dim}) AS b, count(*) AS c
         |       FROM ctk GROUP BY 1, 2),
         |cw(b, wm) AS (VALUES $wVals),
         |cs AS (SELECT doc_id, sum(c * wm) AS dot FROM cf JOIN cw USING (b) GROUP BY doc_id),
         |toks AS (SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
         |bgx AS (SELECT doc_id, unnest([array_to_string(tk[i:i+1], ' ') for i in range(1, len(tk))]) AS bg
         |        FROM toks WHERE len(tk) >= 2),
         |m AS (SELECT doc_id, bg, count(*) AS m FROM bgx GROUP BY 1, 2),
         |bc AS (SELECT bg, sum(m) AS c_bg FROM m GROUP BY 1),
         |ctx AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c_bg) AS c_ctx FROM bc GROUP BY 1),
         |v AS (SELECT count(DISTINCT tok) AS vocab FROM (SELECT unnest(tk) AS tok FROM toks)),
         |sc AS (SELECT doc_id, -sum(m * ln((bc.c_bg + 1)::DOUBLE / (ctx.c_ctx + vocab))) / sum(m) AS nll
         |       FROM m JOIN bc USING (bg) JOIN ctx ON split_part(m.bg, ' ', 1) = ctx.w1, v GROUP BY doc_id),
         |hb AS (SELECT doc_id, text, tk, [array_to_string(tk[i:i+1], ' ') for i in range(1, len(tk))] AS bg
         |       FROM (SELECT doc_id, text, ${tokensSql("text")} AS tk FROM documents)),
         |hm AS (SELECT doc_id,
         |  CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CASE WHEN len(tk) = 0 THEN CAST(0.0 AS DOUBLE)
         |       ELSE CAST(len(tk) - len(list_distinct(tk)) AS DOUBLE) / len(tk) END AS dup_frac,
         |  CASE WHEN len(tk) < 2 THEN CAST(0.0 AS DOUBLE)
         |       ELSE CAST(list_max([len(list_filter(bg, x -> x = g)) for g in list_distinct(bg)]) AS DOUBLE) / len(bg) END AS top_bg,
         |  CASE WHEN length(text) = 0 THEN CAST(0.0 AS DOUBLE)
         |       ELSE CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text) END AS alpha
         |FROM hb),
         |flags AS (SELECT d.doc_id,
         |  (${QualityClassifierPinned.biasMicro} + coalesce(cs.dot, 0)) >= 0 AS cls_kept,
         |  coalesce(sc.nll, 0) < 3.45 AS lm_kept,
         |  (hm.n_tokens BETWEEN 20 AND 1000 AND hm.dup_frac <= 0.6
         |   AND hm.top_bg <= 0.5 AND hm.alpha >= 0.5) AS heur_kept
         |  FROM documents d
         |  LEFT JOIN cs ON d.doc_id = cs.doc_id
         |  LEFT JOIN sc ON d.doc_id = sc.doc_id
         |  JOIN hm ON d.doc_id = hm.doc_id)""".stripMargin
    }
    val ensembleOracleSql =
      s"""WITH $ensembleCtes
         |SELECT doc_id, cls_kept, lm_kept, heur_kept,
         |       (cls_kept AND lm_kept AND heur_kept) AS kept
         |FROM flags ORDER BY doc_id""".stripMargin

    // DSIR model chain (bk → w): token hashing, one grouped count building
    // both distributions, add-one smoothing, nano-nat fixed-point
    // log-ratios, integer per-doc dot product. Shared by the importance
    // gates and the composed streaming-pipeline oracle.
    val importanceCtes =
      s"""bk AS (SELECT doc_id, lang, (${hashSql("tok")} % 64) AS bucket
         |       FROM (SELECT doc_id, lang, unnest(${tokensSql("text")}) AS tok FROM documents)),
         |cnt AS (SELECT bucket, count(*) AS raw,
         |               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tgt
         |        FROM bk GROUP BY 1),
         |tot AS (SELECT sum(raw) AS rawtot, sum(tgt) AS tgttot FROM cnt),
         |lr AS (SELECT bucket,
         |         CAST(floor(1000000000 * (ln(CAST(tgt + 1 AS DOUBLE) / (tgttot + 64))
         |                                 - ln(CAST(raw + 1 AS DOUBLE) / (rawtot + 64))) + 0.5) AS BIGINT) AS lr_fp
         |       FROM cnt, tot),
         |w AS (SELECT d.doc_id, CAST(coalesce(sum(lr.lr_fp), 0) AS BIGINT) AS weight_fp
         |      FROM documents d
         |      LEFT JOIN bk ON d.doc_id = bk.doc_id
         |      LEFT JOIN lr ON bk.bucket = lr.bucket
         |      GROUP BY 1)""".stripMargin

    // Bigram-LM replay: identical count/smoothing/score arithmetic; the
    // doc_id join at the end restores zero-evidence short documents.
    // Shared verbatim by the join-based gate (q_text_lm_score) and the
    // scan-local serving gate (q_text_lm_score_local).
    val lmScoreSql =
      s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
         |bgx AS (SELECT doc_id, unnest([array_to_string(tk[i:i+1], ' ') for i in range(1, len(tk))]) AS bg
         |        FROM toks WHERE len(tk) >= 2),
         |m AS (SELECT doc_id, bg, count(*) AS m FROM bgx GROUP BY 1, 2),
         |bc AS (SELECT bg, sum(m) AS c_bg FROM m GROUP BY 1),
         |ctx AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c_bg) AS c_ctx FROM bc GROUP BY 1),
         |v AS (SELECT count(DISTINCT tok) AS vocab FROM (SELECT unnest(tk) AS tok FROM toks)),
         |sc AS (SELECT doc_id, -sum(m * ln((bc.c_bg + 1)::DOUBLE / (ctx.c_ctx + vocab))) / sum(m) AS nll,
         |       sum(m) AS n_bigrams
         |       FROM m JOIN bc USING (bg) JOIN ctx ON split_part(m.bg, ' ', 1) = ctx.w1, v GROUP BY doc_id)
         |SELECT t.doc_id, CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |       CAST(floor(coalesce(sc.nll, 0) * 1000 + 0.5) AS BIGINT) AS nll_milli,
         |       coalesce(sc.nll, 0) < 3.45 AS kept
         |FROM (SELECT DISTINCT doc_id FROM documents) t LEFT JOIN sc USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin
    // Fixed-point PageRank replay: the synthetic modular link graph, then
    // each of the 10 integer-arithmetic rounds unrolled as its own CTE
    // (r0 → r10) — aggregation inside a recursive CTE term is
    // non-standard SQL, and unrolling sidesteps it with zero ambiguity.
    val pageRankOracleSql = {
      val steps = (1 to 10).map { k =>
        s"""r$k AS (SELECT nd.node,
           |  CAST((CAST(150 AS BIGINT) * 1000000000) // (1000 * nc.n) + coalesce(s.x, 0) AS BIGINT) AS rank
           |  FROM nodes nd CROSS JOIN nc LEFT JOIN (
           |    SELECT e.dst, sum((r.rank * 850) // (1000 * o.outdeg)) AS x
           |    FROM edges e JOIN r${k - 1} r ON e.src = r.node JOIN outdeg o ON e.src = o.src
           |    GROUP BY e.dst) s ON nd.node = s.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH mx AS (SELECT max(doc_id) + 1 AS nn FROM documents),
         |edges AS (SELECT DISTINCT doc_id AS src, dst FROM (
         |  SELECT doc_id, unnest([(doc_id*7+1) % nn, (doc_id*13+2) % nn, (doc_id*29+5) % nn]) AS dst
         |  FROM documents, mx)),
         |nodes AS (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst FROM edges),
         |outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
         |nc AS (SELECT count(*) AS n FROM nodes),
         |r0 AS (SELECT node, CAST(1000000000 // n AS BIGINT) AS rank FROM nodes, nc),
         |$steps
         |SELECT node, rank AS rank_nano FROM r10 ORDER BY node""".stripMargin
    }
    // The stochastic variant's replay: same unrolled rounds plus a
    // per-round dangling-mass CTE (rank held by nodes without out-edges,
    // redistributed uniformly via the same integer division). Each round
    // references the previous one TWICE (dangling sum + share join), so
    // the rank CTEs are MATERIALIZED — plain CTE inlining would expand
    // the 10-round chain 2^10-fold.
    val pageRankStochasticOracleSql = {
      val steps = (1 to 10).map { k =>
        s"""d$k AS (SELECT coalesce(sum(r.rank), 0) AS dm FROM r${k - 1} r
           |  LEFT JOIN outdeg o ON r.node = o.src WHERE o.src IS NULL),
           |r$k AS MATERIALIZED (SELECT nd.node,
           |  CAST((CAST(150 AS BIGINT) * 1000000000) // (1000 * nc.n)
           |       + (d$k.dm * 850) // (1000 * nc.n)
           |       + coalesce(s.x, 0) AS BIGINT) AS rank
           |  FROM nodes nd CROSS JOIN nc CROSS JOIN d$k LEFT JOIN (
           |    SELECT e.dst, sum((r.rank * 850) // (1000 * o.outdeg)) AS x
           |    FROM edges e JOIN r${k - 1} r ON e.src = r.node JOIN outdeg o ON e.src = o.src
           |    GROUP BY e.dst) s ON nd.node = s.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH mx AS (SELECT max(doc_id) + 1 AS nn FROM documents),
         |edges AS (SELECT DISTINCT doc_id AS src, dst FROM (
         |  SELECT doc_id, unnest([(doc_id*7+1) % nn, (doc_id*13+2) % nn, (doc_id*29+5) % nn]) AS dst
         |  FROM documents, mx WHERE doc_id % 3 <> 0)),
         |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst FROM edges),
         |outdeg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
         |nc AS (SELECT count(*) AS n FROM nodes),
         |r0 AS MATERIALIZED (SELECT node, CAST(1000000000 // n AS BIGINT) AS rank FROM nodes, nc),
         |$steps
         |SELECT node, rank AS rank_nano FROM r10 ORDER BY node""".stripMargin
    }
    // Personalized/TrustRank replay: same unrolled MATERIALIZED rounds as
    // the stochastic variant, but teleport + dangling mass go ONLY to the
    // seed predicate (node % 16 = 0), and r0's mass starts on the seeds.
    val pageRankPersonalizedOracleSql = {
      val steps = (1 to 10).map { k =>
        s"""d$k AS (SELECT coalesce(sum(r.rank), 0) AS dm FROM r${k - 1} r
           |  LEFT JOIN outdeg o ON r.node = o.src WHERE o.src IS NULL),
           |r$k AS MATERIALIZED (SELECT nd.node,
           |  CAST(CASE WHEN nd.node % 16 = 0
           |       THEN (CAST(150 AS BIGINT) * 1000000000) // (1000 * sc.ns)
           |            + (d$k.dm * 850) // (1000 * sc.ns)
           |       ELSE 0 END
           |       + coalesce(s.x, 0) AS BIGINT) AS rank
           |  FROM nodes nd CROSS JOIN sc CROSS JOIN d$k LEFT JOIN (
           |    SELECT e.dst, sum((r.rank * 850) // (1000 * o.outdeg)) AS x
           |    FROM edges e JOIN r${k - 1} r ON e.src = r.node JOIN outdeg o ON e.src = o.src
           |    GROUP BY e.dst) s ON nd.node = s.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH mx AS (SELECT max(doc_id) + 1 AS nn FROM documents),
         |edges AS (SELECT DISTINCT doc_id AS src, dst FROM (
         |  SELECT doc_id, unnest([(doc_id*7+1) % nn, (doc_id*13+2) % nn, (doc_id*29+5) % nn]) AS dst
         |  FROM documents, mx WHERE doc_id % 3 <> 0)),
         |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst FROM edges),
         |outdeg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
         |sc AS (SELECT count(*) AS ns FROM nodes WHERE node % 16 = 0),
         |r0 AS MATERIALIZED (SELECT node,
         |  CASE WHEN node % 16 = 0 THEN CAST(1000000000 // ns AS BIGINT) ELSE CAST(0 AS BIGINT) END AS rank
         |  FROM nodes, sc),
         |$steps
         |SELECT node, rank AS rank_nano FROM r10 ORDER BY node""".stripMargin
    }
    // IVF probe replay (shared by q_knn_ivf_probe and the persisted
    // serving gate q_knn_ivf_serve): frozen IvfPinned centroids as a
    // one-row CTE, cell assignment (argmax cosine, lowest cell on ties),
    // top-nprobe probe selection, candidate ranking.
    val ivfProbeOracleSql = {
      val centsCte = {
        val m = graft.operators.IvfPinned.centroids
        val arr = m.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
        s"cents_t AS (SELECT $arr AS ct)"
      }
      val nlist  = graft.operators.IvfPinned.nlist
      val cellCos = cosineSql("v.ve", "ct[cells.cell + 1]")
      s"""WITH $centsCte,
         |v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
         |cells AS (SELECT unnest(range(0, $nlist)) AS cell),
         |asg AS (SELECT vec_id AS neighbor_id, ve AS cv, cell FROM (
         |  SELECT v.vec_id, v.ve, cells.cell,
         |         row_number() OVER (PARTITION BY v.vec_id ORDER BY $cellCos DESC, cells.cell) AS pr
         |  FROM v, cents_t, cells) WHERE pr = 1),
         |probes AS (SELECT query_id, qv, cell FROM (
         |  SELECT v.vec_id AS query_id, v.ve AS qv, cells.cell,
         |         row_number() OVER (PARTITION BY v.vec_id ORDER BY $cellCos DESC, cells.cell) AS pr
         |  FROM v, cents_t, cells WHERE v.vec_id < 5) WHERE pr <= 4),
         |sc AS (SELECT query_id, neighbor_id, ${cosineSql("qv", "cv")} AS cos
         |       FROM probes JOIN asg USING (cell) WHERE query_id <> neighbor_id),
         |r AS (SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM sc)
         |SELECT query_id, neighbor_id, rnk FROM r WHERE rnk <= 10
         |ORDER BY query_id, rnk""".stripMargin
    }

    // BM25 replay, shared verbatim by the retrieval gate (q_bm25_topk),
    // the parquet-round-trip serving gate (q_bm25_index_serve), and — as
    // the lexical half of its CTE chain — the hybrid-fusion gate
    // (q_hybrid_retrieval).
    val bm25Ctes =
      s"""toks AS (SELECT doc_id, unnest(${tokensSql("text")}) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1),
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |av AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |q(query_id, q_text) AS (VALUES (1, 'spark join window'), (2, 'hash merge sort batch'),
         |  (3, 'customer filter query'), (4, 'scan'), (5, 'stream data value key')),
         |qt AS (SELECT query_id, unnest(list_distinct(${tokensSql("q_text")})) AS term FROM q),
         |c AS (SELECT qt.query_id, tf.doc_id,
         |  CAST(floor((ln(1.0 + (CAST(n_docs AS DOUBLE) - doc_freq + 0.5) / (CAST(doc_freq AS DOUBLE) + 0.5))
         |    * ((CAST(tf AS DOUBLE) * (1.2 + 1.0)) /
         |       (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))) * 1e9) AS BIGINT) AS c_nano
         |  FROM tf JOIN qt USING (term) JOIN dfq USING (term) JOIN dl USING (doc_id), av),
         |sc AS (SELECT query_id, doc_id, sum(c_nano) AS score_nano FROM c GROUP BY 1, 2),
         |r AS (SELECT query_id, doc_id, score_nano,
         |      row_number() OVER (PARTITION BY query_id ORDER BY score_nano DESC, doc_id) AS rnk FROM sc)""".stripMargin
    val jaccardServeOracleSql =
      s"""WITH w AS (SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
         |bg AS (SELECT doc_id, unnest(list_distinct(
         |        [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] for i in range(1, len(tk) - 1)])) AS tok FROM w),
         |sz AS (SELECT doc_id, count(*) AS sz FROM bg GROUP BY 1),
         |o AS (SELECT p.doc_id AS doc_id, x.doc_id AS matched_id, count(*) AS inter
         |      FROM bg p JOIN bg x ON p.tok = x.tok
         |      WHERE p.doc_id % 2 = 1 AND x.doc_id % 2 = 0 GROUP BY 1, 2)
         |SELECT o.doc_id AS doc_id, o.matched_id AS matched_id, CAST(inter AS BIGINT) AS inter,
         |  CAST(sa.sz AS BIGINT) AS size_a, CAST(sb.sz AS BIGINT) AS size_b,
         |  CAST((1000 * inter) // (sa.sz + sb.sz - inter) AS BIGINT) AS jaccard_milli
         |FROM o JOIN sz sa ON sa.doc_id = o.doc_id JOIN sz sb ON sb.doc_id = o.matched_id
         |WHERE inter * 1600 >= 600 * (sa.sz + sb.sz)
         |ORDER BY doc_id, matched_id""".stripMargin
    // Excised serving variant: the universe drops every trigram in more
    // than max(1, ⌊0.01·N⌋) of the INDEXED (even) docs; both sides'
    // sizes and intersections derive from the excised sets.
    val jaccardServeExcisedOracleSql =
      s"""WITH w AS (SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
         |bg AS (SELECT doc_id, unnest(list_distinct(
         |        [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] for i in range(1, len(tk) - 1)])) AS tok FROM w),
         |idx AS (SELECT * FROM bg WHERE doc_id % 2 = 0),
         |n AS (SELECT count(DISTINCT doc_id) AS n FROM idx),
         |hot AS (SELECT tok FROM idx GROUP BY tok
         |        HAVING count(*) > greatest(1, CAST(floor(0.01 * (SELECT n FROM n)) AS BIGINT))),
         |bgx AS (SELECT bg.doc_id, bg.tok FROM bg ANTI JOIN hot USING (tok)),
         |sz AS (SELECT doc_id, count(*) AS sz FROM bgx GROUP BY 1),
         |o AS (SELECT p.doc_id AS doc_id, x.doc_id AS matched_id, count(*) AS inter
         |      FROM bgx p JOIN bgx x ON p.tok = x.tok
         |      WHERE p.doc_id % 2 = 1 AND x.doc_id % 2 = 0 GROUP BY 1, 2)
         |SELECT o.doc_id AS doc_id, o.matched_id AS matched_id, CAST(inter AS BIGINT) AS inter,
         |  CAST(sa.sz AS BIGINT) AS size_a, CAST(sb.sz AS BIGINT) AS size_b,
         |  CAST((1000 * inter) // (sa.sz + sb.sz - inter) AS BIGINT) AS jaccard_milli
         |FROM o JOIN sz sa ON sa.doc_id = o.doc_id JOIN sz sb ON sb.doc_id = o.matched_id
         |WHERE inter * 1600 >= 600 * (sa.sz + sb.sz)
         |ORDER BY doc_id, matched_id""".stripMargin
    // Hot-set refresh flow: cutoff round 1 over the %4==0 build quarter
    // (frozen hot set), cutoff round 2 over the LIVE evens minus round 1
    // (what the refresh compact re-evaluates); the final universe drops
    // hot1 ∪ hot2 from both sides.
    val jaccardExciseRefreshOracleSql =
      s"""WITH w AS (SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
         |bg AS (SELECT doc_id, unnest(list_distinct(
         |        [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] for i in range(1, len(tk) - 1)])) AS tok FROM w),
         |q0 AS (SELECT * FROM bg WHERE doc_id % 4 = 0),
         |n1 AS (SELECT count(DISTINCT doc_id) AS n FROM q0),
         |hot1 AS (SELECT tok FROM q0 GROUP BY tok
         |         HAVING count(*) > greatest(1, CAST(floor(0.01 * (SELECT n FROM n1)) AS BIGINT))),
         |ev AS (SELECT * FROM bg WHERE doc_id % 2 = 0),
         |evx AS (SELECT ev.doc_id, ev.tok FROM ev ANTI JOIN hot1 USING (tok)),
         |n2 AS (SELECT count(DISTINCT doc_id) AS n FROM evx),
         |hot2 AS (SELECT tok FROM evx GROUP BY tok
         |         HAVING count(*) > greatest(1, CAST(floor(0.01 * (SELECT n FROM n2)) AS BIGINT))),
         |hot AS (SELECT tok FROM hot1 UNION SELECT tok FROM hot2),
         |bgx AS (SELECT bg.doc_id, bg.tok FROM bg ANTI JOIN hot USING (tok)),
         |sz AS (SELECT doc_id, count(*) AS sz FROM bgx GROUP BY 1),
         |o AS (SELECT p.doc_id AS doc_id, x.doc_id AS matched_id, count(*) AS inter
         |      FROM bgx p JOIN bgx x ON p.tok = x.tok
         |      WHERE p.doc_id % 2 = 1 AND x.doc_id % 2 = 0 GROUP BY 1, 2)
         |SELECT o.doc_id AS doc_id, o.matched_id AS matched_id, CAST(inter AS BIGINT) AS inter,
         |  CAST(sa.sz AS BIGINT) AS size_a, CAST(sb.sz AS BIGINT) AS size_b,
         |  CAST((1000 * inter) // (sa.sz + sb.sz - inter) AS BIGINT) AS jaccard_milli
         |FROM o JOIN sz sa ON sa.doc_id = o.doc_id JOIN sz sb ON sb.doc_id = o.matched_id
         |WHERE inter * 1600 >= 600 * (sa.sz + sb.sz)
         |ORDER BY doc_id, matched_id""".stripMargin
    val bm25OracleSql =
      s"""WITH $bm25Ctes
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, CAST(rnk AS BIGINT) AS rnk,
         |       CAST(score_nano AS BIGINT) AS score_nano
         |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin
    // Delete-variant replays, shared by the per-surface delete gates and
    // the forget-flow composition below.
    val sigDeleteOracleSql =
      s"""WITH ${incrementalCte(hsh3, hashI)}
         |SELECT nid AS doc_id, oid AS matched_id, CAST(k AS BIGINT) AS est_32
         |FROM matched WHERE oid % 3 <> 0 ORDER BY doc_id, matched_id""".stripMargin
    val ivfDeleteOracleSql =
      ivfProbeOracleSql.replace(
        "WHERE query_id <> neighbor_id)",
        "WHERE query_id <> neighbor_id AND neighbor_id % 3 <> 0)")
    val bm25DeleteOracleSql =
      bm25OracleSql.replace("FROM documents)", "FROM documents WHERE doc_id % 3 <> 0)")
    // One forget request (every id ≡ 0 mod 3), five serving surfaces: the
    // union report is each surface's delete-variant replay — the three
    // match surfaces are their serve oracles minus pairs whose INDEXED
    // side was forgotten; the two top-k surfaces re-rank over the
    // survivors (freed slots promote, exactly the per-surface delete
    // oracles' semantics).
    val forgetFlowOracleSql =
      s"""SELECT surface, probe_id, matched_id, score FROM (
         |SELECT 'sig' AS surface, doc_id AS probe_id, matched_id,
         |       CAST(est_32 AS BIGINT) AS score FROM ($sigDeleteOracleSql)
         |UNION ALL
         |SELECT 'fp' AS surface, doc_id AS probe_id, matched_id,
         |       CAST(hamming AS BIGINT) AS score
         |FROM ($phashServeOracleSql) WHERE matched_id % 3 <> 0
         |UNION ALL
         |SELECT 'jac' AS surface, doc_id AS probe_id, matched_id,
         |       CAST(jaccard_milli AS BIGINT) AS score
         |FROM ($jaccardServeOracleSql) WHERE matched_id % 3 <> 0
         |UNION ALL
         |SELECT 'ivf' AS surface, query_id AS probe_id, neighbor_id AS matched_id,
         |       CAST(rnk AS BIGINT) AS score FROM ($ivfDeleteOracleSql)
         |UNION ALL
         |SELECT 'bm25' AS surface, query_id AS probe_id, doc_id AS matched_id,
         |       CAST(rnk AS BIGINT) AS score FROM ($bm25DeleteOracleSql)
         |) ORDER BY surface, probe_id, matched_id, score""".stripMargin
    Map(
      "q_forget_flow" -> forgetFlowOracleSql,
      // Purge ≡ mask across all five surfaces in one composed run: the
      // compacted probes replay the mask-only oracle verbatim.
      "q_forget_compact_flow" -> forgetFlowOracleSql,
      "q_dedup_exact" ->
        """SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id, count(*) AS n_copies
          |FROM documents GROUP BY md5(text) ORDER BY text_hash""".stripMargin,

      "q_dedup_ngram" ->
        s"""WITH docs AS (SELECT doc_id, $hsh3 AS shs FROM documents),
           |${adaptiveCandCte(hashI, bandKey)},
           |j AS (SELECT doc_a, doc_b,
           |  len(list_intersect(x.shs, y.shs))::DOUBLE /
           |    (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs))) AS jaccard
           |  FROM cand JOIN docs x ON doc_a = x.doc_id JOIN docs y ON doc_b = y.doc_id)
           |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.8
           |ORDER BY doc_a, doc_b""".stripMargin,

      // Brute force over ALL bigram-set pairs — the prefix-filtered plan
      // must lose nothing (exact algorithm, exact integer keep test).
      "q_jaccard_join" ->
        s"""WITH w AS (SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
           |bg AS (SELECT doc_id, unnest(list_distinct(
           |        [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] for i in range(1, len(tk) - 1)])) AS tok FROM w),
           |sz AS (SELECT doc_id, count(*) AS sz FROM bg GROUP BY 1),
           |o AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           |      FROM bg a JOIN bg b ON a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1, 2)
           |SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
           |  CAST(sa.sz AS BIGINT) AS size_a, CAST(sb.sz AS BIGINT) AS size_b,
           |  CAST((1000 * inter) // (sa.sz + sb.sz - inter) AS BIGINT) AS jaccard_milli
           |FROM o JOIN sz sa ON sa.doc_id = o.doc_a JOIN sz sb ON sb.doc_id = o.doc_b
           |WHERE inter * 1600 >= 600 * (sa.sz + sb.sz)
           |ORDER BY doc_a, doc_b""".stripMargin,

      // Cross-split brute force (odd probes × even index) — the persisted
      // prefix index's two pruned reads must not lose a pair.
      "q_jaccard_serve" -> jaccardServeOracleSql,
      "q_jaccard_serve_excised" -> jaccardServeExcisedOracleSql,
      "q_jaccard_excise_refresh" -> jaccardExciseRefreshOracleSql,
      // Streamed serving against the frozen index must equal the batch
      // probe row-for-row (frozen element order makes verdicts
      // micro-batch invariant).
      "q_jaccard_serve_stream" -> jaccardServeOracleSql,

      "q_dedup_minhash" -> minHashOracleSql(hsh3, hashI, bandKey),

      // The shuffled verification path must agree with the broadcast kernel
      // on every pair and every jaccard value — identical oracle.
      "q_dedup_minhash_shuffle" -> minHashOracleSql(hsh3, hashI, bandKey),

      "q_dedup_simhash" ->
        s"""SELECT doc_id, CAST(list_sum([CASE WHEN
           |  list_sum([2 * ((h // (2**j)::BIGINT) % 2) - 1 for h in toks]) > 0
           |  THEN (2**j)::BIGINT ELSE 0 END for j in range(0, 32)]) AS BIGINT) AS simhash
           |FROM (SELECT doc_id, [${hashSql("t")} for t in ${tokensSql("text")}] AS toks FROM documents)
           |ORDER BY doc_id""".stripMargin,

      // All-pairs reference for the banded engine path: banding with
      // maxHamming+1 disjoint bands provably returns the identical set.
      "q_dedup_simhash_pairs" ->
        s"""WITH fp AS (SELECT doc_id, CAST(list_sum([CASE WHEN
           |  list_sum([2 * ((h // (2**j)::BIGINT) % 2) - 1 for h in toks]) > 0
           |  THEN (2**j)::BIGINT ELSE 0 END for j in range(0, 32)]) AS BIGINT) AS simhash
           |FROM (SELECT doc_id, [${hashSql("t")} for t in ${tokensSql("text")}] AS toks FROM documents))
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
           |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
           |ORDER BY doc_a, doc_b""".stripMargin,

      "q_embed_neardup" ->
        s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
           |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |  ${cosineSql("a.ve", "b.ve")} AS c
           |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
           |SELECT id_a, id_b, round(c, 6) AS cos_r FROM p WHERE c >= 0.4
           |ORDER BY id_a, id_b""".stripMargin,

      // SemDeDup replay: pinned-centroid cell assignment (the ivf_probe
      // asg CTE), within-cell pairs at >= 0.4, CC via the recursive reach
      // pattern, keep-best = lowest centroid cosine (score = -cc DESC ≡
      // cc ASC), ties lowest id.
      "q_embed_semdedup" -> {
        val centsArr = graft.operators.IvfPinned.centroids
          .map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
        val nlist   = graft.operators.IvfPinned.nlist
        val cellCos = cosineSql("v.ve", "ct[cells.cell + 1]")
        s"""WITH RECURSIVE cents_t AS (SELECT $centsArr AS ct),
           |v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
           |cells AS (SELECT unnest(range(0, $nlist)) AS cell),
           |asg AS (SELECT vec_id, ve, cell, cc FROM (
           |  SELECT v.vec_id, v.ve, cells.cell, $cellCos AS cc,
           |         row_number() OVER (PARTITION BY v.vec_id ORDER BY $cellCos DESC, cells.cell) AS pr
           |  FROM v, cents_t, cells) WHERE pr = 1),
           |p AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
           |      FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
           |      WHERE ${cosineSql("a.ve", "b.ve")} >= 0.4),
           |edges AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b, doc_a FROM p),
           |reach(a, b) AS (SELECT DISTINCT a, a FROM edges
           |                UNION
           |                SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
           |comp AS (SELECT a AS node, min(b) AS rep FROM reach GROUP BY a),
           |ranked AS (SELECT c.node, row_number() OVER (PARTITION BY c.rep ORDER BY g.cc ASC, c.node) AS rn
           |           FROM comp c JOIN asg g ON c.node = g.vec_id),
           |losers AS (SELECT node FROM ranked WHERE rn > 1)
           |SELECT vec_id FROM v WHERE vec_id NOT IN (SELECT node FROM losers)
           |ORDER BY vec_id""".stripMargin
      },

      "q_embed_neardup_lsh" ->
        // Same deterministic hyperplane replication as q_knn_lsh: the
        // bucket bits come from sign-of-dot with an IEEE-identical fold
        // order, so the bucket assignment is exact, not approximate.
        s"""WITH $signsCte,
           |v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
           |$bucketCte,
           |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${cosineSql("a.ve", "b.ve")} AS c
           |      FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
           |SELECT id_a, id_b, round(c, 6) AS cos_r FROM p WHERE c >= 0.4
           |ORDER BY id_a, id_b""".stripMargin,

      "q_knn_lsh" ->
        s"""WITH $signsCte,
           |v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
           |$bucketCte,
           |q AS (SELECT vec_id AS query_id, ve AS qv, bucket FROM sig WHERE vec_id < 5),
           |c AS (SELECT vec_id AS neighbor_id, ve AS cv, bucket FROM sig),
           |sc AS (SELECT query_id, neighbor_id, ${cosineSql("qv", "cv")} AS cos
           |       FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id),
           |r AS (SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM sc)
           |SELECT query_id, neighbor_id, rnk FROM r WHERE rnk <= 5
           |ORDER BY query_id, rnk""".stripMargin,

      "q_knn_lsh_multiprobe" ->
        s"""WITH $signsCte,
           |v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
           |$bucketCte,
           |q AS (SELECT vec_id AS query_id, ve AS qv,
           |      unnest([bucket] || [xor(bucket, (2**p)::BIGINT) for p in range(0, 8)]) AS bucket
           |      FROM sig WHERE vec_id < 5),
           |c AS (SELECT vec_id AS neighbor_id, ve AS cv, bucket FROM sig),
           |sc AS (SELECT query_id, neighbor_id, ${cosineSql("qv", "cv")} AS cos
           |       FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id),
           |r AS (SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM sc)
           |SELECT query_id, neighbor_id, rnk FROM r WHERE rnk <= 5
           |ORDER BY query_id, rnk""".stripMargin,

      "q_knn_bruteforce" -> exactKnnOracle(k = 10),
      // Two-stage PQ and exhaustive-cell IVF-PQ both rescore their
      // shortlists exactly, so their oracles ARE the exact top-k —
      // codebook- and centroid-independent by construction.
      "q_knn_pq_adc" -> exactKnnOracle(k = 10),
      "q_knn_ivf_pq" -> exactKnnOracle(k = 10),
      "q_knn_ivf_pq_serve" -> exactKnnOracle(k = 10),
      "q_knn_ivf_pq_serve_stream" -> exactKnnOracle(k = 10),
      // Refreshed PQ codebooks + exact rescore = exact top-k over the
      // survivors, whatever books pqTrain landed on (codebook-independent
      // by the rescore construction).
      "q_knn_ivf_pq_maintain" -> exactKnnOracle(k = 10).replace(
        "c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),",
        "c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id % 3 <> 0),"),

      // Streamed BM25 maintenance: three deterministic tombstone-fired
      // 'compact' audit rows + the delete-variant retrieval replay (the
      // additive-stats design makes append-then-serve ≡ rebuild-then-
      // serve; the mid-stream compacts only move cost).
      "q_bm25_maintain_stream" ->
        s"""SELECT surface, action, generation, query_id, doc_id, rnk, score_nano FROM (
           |SELECT 'audit' AS surface, 'compact' AS action, CAST(g AS BIGINT) AS generation,
           |       CAST(-1 AS BIGINT) AS query_id, CAST(-1 AS BIGINT) AS doc_id,
           |       CAST(-1 AS BIGINT) AS rnk, CAST(-1 AS BIGINT) AS score_nano
           |FROM (VALUES (1),(2),(3)) AS t(g)
           |UNION ALL
           |SELECT 'probe', '-', CAST(-1 AS BIGINT), query_id, doc_id, rnk, score_nano
           |FROM ($bm25DeleteOracleSql)
           |) ORDER BY surface, query_id, rnk, doc_id, generation""".stripMargin,

      // Streamed IVF-PQ maintenance: three deterministic 'compact' audit
      // rows (tombstone-fired, generations 1..3) + the survivor-exact
      // probe (rnk is the probe's own ranking column; audit rows carry
      // -1 sentinels).
      "q_ivfpq_maintain_stream" ->
        s"""SELECT surface, action, generation, query_id, neighbor_id, rnk FROM (
           |SELECT 'audit' AS surface, 'compact' AS action, CAST(g AS BIGINT) AS generation,
           |       CAST(-1 AS BIGINT) AS query_id, CAST(-1 AS BIGINT) AS neighbor_id,
           |       CAST(-1 AS BIGINT) AS rnk FROM (VALUES (1),(2),(3)) AS t(g)
           |UNION ALL
           |SELECT 'probe', '-', CAST(-1 AS BIGINT), query_id, neighbor_id, rnk
           |FROM (${exactKnnOracle(k = 10).replace(
        "c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),",
        "c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id % 3 <> 0),")})
           |) ORDER BY surface, query_id, neighbor_id, rnk, generation""".stripMargin,

      // Retrained quantizer + exhaustive probe = exact top-k over the
      // survivors, whatever centroids Lloyd landed on.
      "q_knn_ivf_retrain" -> exactKnnOracle(k = 10).replace(
        "c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),",
        "c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id % 3 <> 0),"),

      // Auto-retrain lifecycle: candidates are the base corpus plus the
      // coherent-mode drifted appends (ids shifted past max, components
      // 50 + (orig_id + d) % 5 — integer-valued, so float-vs-double
      // arithmetic is exact in both engines), minus the % 3 tombstones;
      // the exhaustive probe must equal exact top-k over that survivor
      // set whatever quantizer Auto's retrain learned.
      "q_knn_ivf_retrain_auto" -> exactKnnOracle(k = 10).replace(
        "c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),",
        s"""c AS (SELECT vec_id AS neighbor_id, cv FROM (
           |  SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings),
           |         list_transform(range(0, ${graft.operators.IvfPinned.dims}),
           |                        d -> CAST(50 + (vec_id + d) % 5 AS DOUBLE))
           |  FROM embeddings) WHERE vec_id % 3 <> 0),""".stripMargin),

      // Recall@5 of single-probe LSH vs exact: both chains composed, the
      // intersection counted per query (exact side defines the universe).
      "q_knn_recall_eval" ->
        s"""WITH $signsCte,
           |v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
           |$bucketCte,
           |lq AS (SELECT vec_id AS query_id, ve AS qv, bucket FROM sig WHERE vec_id < 5),
           |lc AS (SELECT vec_id AS neighbor_id, ve AS cv, bucket FROM sig),
           |lsc AS (SELECT query_id, neighbor_id, ${cosineSql("qv", "cv")} AS cos
           |        FROM lq JOIN lc USING (bucket) WHERE query_id <> neighbor_id),
           |lr AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id,
           |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
           |  FROM lsc) WHERE rnk <= 5),
           |eq AS (SELECT vec_id AS query_id, ve AS qv FROM v WHERE vec_id < 5),
           |esc AS (SELECT query_id, c.vec_id AS neighbor_id, ${cosineSql("qv", "c.ve")} AS cos
           |        FROM eq, v c WHERE query_id <> c.vec_id),
           |er AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id,
           |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
           |  FROM esc) WHERE rnk <= 5)
           |SELECT er.query_id,
           |  CAST(sum(CASE WHEN lr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           |  CAST(count(*) AS BIGINT) AS n_exact
           |FROM er LEFT JOIN lr ON er.query_id = lr.query_id AND er.neighbor_id = lr.neighbor_id
           |GROUP BY er.query_id ORDER BY er.query_id""".stripMargin,

      // Hard-negative mining: the banded brute-force scan.
      "q_mine_hard_negatives" -> bandedKnnOracle(k = 10, minCos = 0.05, maxCos = 0.35),

      // MMR: the integer greedy as a recursive CTE. Pool = top-20 by raw
      // cosine; per-step argmax via NOT EXISTS over the pool (scores are
      // 7·cos_fp − 3·max-over-selected pairwise cos_fp, all BIGINT — the
      // pairwise matrix pp is precomputed so the recursive term stays
      // aggregate-free except the correlated scalar max over the
      // NON-recursive pp, which DuckDB permits). Ties pick the smaller id.
      "q_mmr_rerank" -> {
        val qfp = (e: String) => s"CAST(floor(($e) * 1000000000000 + 0.5) AS BIGINT)"
        val maxsim = (cand: String) =>
          s"coalesce((SELECT max(pp.cfp) FROM pp WHERE pp.query_id = s.query_id " +
            s"AND pp.a = $cand.neighbor_id AND list_contains(s.sel_ids, pp.b)), 0)"
        val score = (cand: String) => s"(7 * $cand.cos_fp - 3 * ${maxsim(cand)})"
        s"""WITH RECURSIVE
           |v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
           |q AS (SELECT vec_id AS query_id, ve AS qv FROM v WHERE vec_id < 5),
           |pool AS (SELECT query_id, neighbor_id, cv, cos_fp FROM (
           |  SELECT q.query_id, v.vec_id AS neighbor_id, v.ve AS cv,
           |         ${qfp(cosineSql("q.qv", "v.ve"))} AS cos_fp,
           |         row_number() OVER (PARTITION BY q.query_id ORDER BY ${cosineSql("q.qv", "v.ve")} DESC, v.vec_id) AS rnk
           |  FROM q, v WHERE q.query_id <> v.vec_id) WHERE rnk <= 20),
           |pp AS (SELECT x.query_id, x.neighbor_id AS a, y.neighbor_id AS b, ${qfp(cosineSql("x.cv", "y.cv"))} AS cfp
           |       FROM pool x JOIN pool y ON x.query_id = y.query_id AND x.neighbor_id <> y.neighbor_id),
           |sel AS (
           |  SELECT query_id, 1 AS step, [neighbor_id] AS sel_ids
           |  FROM pool p WHERE NOT EXISTS (
           |    SELECT 1 FROM pool p2 WHERE p2.query_id = p.query_id
           |      AND (p2.cos_fp > p.cos_fp OR (p2.cos_fp = p.cos_fp AND p2.neighbor_id < p.neighbor_id)))
           |  UNION ALL
           |  SELECT s.query_id, s.step + 1, list_append(s.sel_ids, c.neighbor_id)
           |  FROM sel s JOIN pool c ON c.query_id = s.query_id AND NOT list_contains(s.sel_ids, c.neighbor_id)
           |  WHERE s.step < 5 AND NOT EXISTS (
           |    SELECT 1 FROM pool c2
           |    WHERE c2.query_id = s.query_id AND NOT list_contains(s.sel_ids, c2.neighbor_id)
           |      AND (${score("c2")} > ${score("c")}
           |           OR (${score("c2")} = ${score("c")} AND c2.neighbor_id < c.neighbor_id)))
           |)
           |SELECT query_id, unnest(sel_ids) AS neighbor_id, unnest([1,2,3,4,5]::BIGINT[]) AS rnk
           |FROM sel WHERE step = 5 ORDER BY query_id, rnk""".stripMargin
      },

      // Celled mining: the ivfProbe replay (frozen centroids, 8-cell probe
      // set) with the cosine band applied before the per-query ranking.
      "q_mine_hard_negatives_celled" -> {
        val centsCte = {
          val m = graft.operators.IvfPinned.centroids
          val arr = m.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
          s"cents_t AS (SELECT $arr AS ct)"
        }
        val nlist   = graft.operators.IvfPinned.nlist
        val cellCos = cosineSql("v.ve", "ct[cells.cell + 1]")
        s"""WITH $centsCte,
           |v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
           |cells AS (SELECT unnest(range(0, $nlist)) AS cell),
           |asg AS (SELECT vec_id AS neighbor_id, ve AS cv, cell FROM (
           |  SELECT v.vec_id, v.ve, cells.cell,
           |         row_number() OVER (PARTITION BY v.vec_id ORDER BY $cellCos DESC, cells.cell) AS pr
           |  FROM v, cents_t, cells) WHERE pr = 1),
           |probes AS (SELECT query_id, qv, cell FROM (
           |  SELECT v.vec_id AS query_id, v.ve AS qv, cells.cell,
           |         row_number() OVER (PARTITION BY v.vec_id ORDER BY $cellCos DESC, cells.cell) AS pr
           |  FROM v, cents_t, cells WHERE v.vec_id < 5) WHERE pr <= 8),
           |sc AS (SELECT query_id, neighbor_id, ${cosineSql("qv", "cv")} AS cos
           |       FROM probes JOIN asg USING (cell) WHERE query_id <> neighbor_id),
           |r AS (SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
           |      FROM sc WHERE cos >= 0.05 AND cos < 0.35)
           |SELECT query_id, neighbor_id, rnk FROM r WHERE rnk <= 10
           |ORDER BY query_id, rnk""".stripMargin
      },

      // IVF with nprobe = nlist probes every cell → candidate set is the
      // whole corpus → must EQUAL the exact top-k oracle. This pins the
      // quantizer/assignment/probe plumbing to exactness; partial-probe
      // recall is spec-asserted (OperatorsSpec).
      "q_knn_ivf_full" -> exactKnnOracle(k = 10),

      // The SERVING shape (nprobe=4 of nlist=16): the frozen IvfPinned
      // centroids are embedded as a one-row CTE (same hoist technique as
      // signs_t — inline literals re-evaluate per access), and the oracle
      // replays cell assignment (argmax cosine, lowest cell on ties — the
      // row_number tiebreak mirrors nearestCell's strict `>`), probe
      // selection (top-nprobe cells per query), and candidate ranking.
      "q_knn_ivf_probe" -> ivfProbeOracleSql,

      // Disk round trip + cell-partition pruning are implementation
      // details of the same probe contract — oracle identical.
      "q_knn_ivf_serve" -> ivfProbeOracleSql,

      // Build-half/append-half must rank exactly like build-all: the
      // frozen centroids make assignment independent of ingest order.
      "q_knn_ivf_append" -> ivfProbeOracleSql,

      // Tombstoned vectors vanish as NEIGHBORS; everyone else's cell
      // assignment is per-vector and unchanged — the probe replay with the
      // deleted side filtered out of the scored join.
      "q_knn_ivf_delete" -> ivfDeleteOracleSql,
      // Append-then-delete-then-compact ≡ fresh build on survivors under
      // the frozen centroids — the delete replay verbatim.
      "q_knn_ivf_compact" -> ivfDeleteOracleSql,
      // Selective variant: a handful of vectors tombstoned — only their
      // cells rewrite, the rest manifest-carry; ranking still equals the
      // fresh-build replay over the survivors.
      "q_knn_ivf_compact_sel" -> ivfProbeOracleSql.replace(
        "WHERE query_id <> neighbor_id)",
        "WHERE query_id <> neighbor_id AND neighbor_id % 97 <> 0)"),

      // Streamed-query ANN serving against the same persisted index:
      // per-query rankings are micro-batch independent — oracle identical.
      "q_knn_ivf_serve_stream" -> ivfProbeOracleSql,

      // IVF probe over the int8-quantized corpus: per-vector symmetric
      // quantize (scale = 127/max|x|, q = floor(x·scale + 0.5)) then
      // dequantize (q/scale, CAST to FLOAT — mirrors dequantizeInt8's
      // float output — then back to DOUBLE for the cosine kernel). Cell
      // assignment uses the DEQUANTIZED corpus vectors (that is what the
      // store has at ingest); queries stay full-precision.
      "q_knn_ivf_quantized" -> {
        val centsCte = {
          val m = graft.operators.IvfPinned.centroids
          val arr = m.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
          s"cents_t AS (SELECT $arr AS ct)"
        }
        val nlist   = graft.operators.IvfPinned.nlist
        val asgCos  = cosineSql("dq.dv", "ct[cells.cell + 1]")
        val probeCos = cosineSql("v.ve", "ct[cells.cell + 1]")
        s"""WITH $centsCte,
           |v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
           |dq AS (SELECT vec_id,
           |       CASE WHEN m = 0 THEN list_transform(ve, x -> 0.0)
           |            ELSE list_transform(ve, x -> CAST(CAST(floor(x * (127.0 / m) + 0.5) / (127.0 / m) AS FLOAT) AS DOUBLE)) END AS dv
           |       FROM (SELECT vec_id, ve, list_max(list_transform(ve, x -> abs(x))) AS m FROM v)),
           |cells AS (SELECT unnest(range(0, $nlist)) AS cell),
           |asg AS (SELECT vec_id AS neighbor_id, dv AS cv, cell FROM (
           |  SELECT dq.vec_id, dq.dv, cells.cell,
           |         row_number() OVER (PARTITION BY dq.vec_id ORDER BY $asgCos DESC, cells.cell) AS pr
           |  FROM dq, cents_t, cells) WHERE pr = 1),
           |probes AS (SELECT query_id, qv, cell FROM (
           |  SELECT v.vec_id AS query_id, v.ve AS qv, cells.cell,
           |         row_number() OVER (PARTITION BY v.vec_id ORDER BY $probeCos DESC, cells.cell) AS pr
           |  FROM v, cents_t, cells WHERE v.vec_id < 5) WHERE pr <= 4),
           |sc AS (SELECT query_id, neighbor_id, ${cosineSql("qv", "cv")} AS cos
           |       FROM probes JOIN asg USING (cell) WHERE query_id <> neighbor_id),
           |r AS (SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM sc)
           |SELECT query_id, neighbor_id, rnk FROM r WHERE rnk <= 10
           |ORDER BY query_id, rnk""".stripMargin
      },

      // True-BPE replay: the frozen merge table is a one-row CTE; encode is
      // a recursive CTE over DISTINCT corpus words — each recursion step
      // merges the LEFTMOST occurrence of the LOWEST-RANK applicable pair
      // (NULLIF guards both possible list_position miss encodings; the
      // first-index semantics of list_position IS the leftmost tie-break),
      // terminating when no adjacent pair is in the table. Identical step
      // contract as Bpe.encodeWord.
      "q_text_bpe_real" -> {
        val mergesLit = listSql(graft.operators.BpePinned.merges)
        val prExpr =
          "[NULLIF(list_position(m, toks[i] || ' ' || toks[i+1]), 0) for i in range(1, len(toks))]"
        s"""WITH RECURSIVE m_t AS (SELECT $mergesLit AS m),
           |docs AS (SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
           |words AS (SELECT DISTINCT unnest(tk) AS w FROM docs),
           |enc(w, toks) AS (
           |  SELECT w, [w[i] for i in range(1, length(w)+1)] FROM words
           |  UNION ALL
           |  SELECT w, list_concat(list_concat(toks[1:i0-1], [toks[i0] || toks[i0+1]]), toks[i0+2:])
           |  FROM (
           |    SELECT w, toks, list_position(pr, list_min(list_filter(pr, x -> x IS NOT NULL))) AS i0
           |    FROM (SELECT w, toks, $prExpr AS pr FROM enc, m_t)
           |    WHERE len(list_filter(pr, x -> x IS NOT NULL)) > 0)),
           |final AS (
           |  SELECT w, toks FROM (SELECT w, toks, $prExpr AS pr FROM enc, m_t)
           |  WHERE len(list_filter(pr, x -> x IS NOT NULL)) = 0),
           |wt AS (SELECT doc_id, unnest(tk) AS w FROM docs),
           |cnt AS (SELECT wt.doc_id, CAST(sum(len(f.toks)) AS BIGINT) AS n_bpe
           |        FROM wt JOIN final f USING (w) GROUP BY wt.doc_id)
           |SELECT d.doc_id, coalesce(c.n_bpe, 0) AS n_bpe
           |FROM documents d LEFT JOIN cnt c USING (doc_id) ORDER BY doc_id""".stripMargin
      },

      // Same per-word merge replay; documents re-assembled in word order,
      // token position = dense row_number over (word index, token index).
      "q_text_bpe_encode" -> {
        val mergesLit = listSql(graft.operators.BpePinned.merges)
        val prExpr =
          "[NULLIF(list_position(m, toks[i] || ' ' || toks[i+1]), 0) for i in range(1, len(toks))]"
        s"""WITH RECURSIVE m_t AS (SELECT $mergesLit AS m),
           |docs AS (SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
           |words AS (SELECT DISTINCT unnest(tk) AS w FROM docs),
           |enc(w, toks) AS (
           |  SELECT w, [w[i] for i in range(1, length(w)+1)] FROM words
           |  UNION ALL
           |  SELECT w, list_concat(list_concat(toks[1:i0-1], [toks[i0] || toks[i0+1]]), toks[i0+2:])
           |  FROM (
           |    SELECT w, toks, list_position(pr, list_min(list_filter(pr, x -> x IS NOT NULL))) AS i0
           |    FROM (SELECT w, toks, $prExpr AS pr FROM enc, m_t)
           |    WHERE len(list_filter(pr, x -> x IS NOT NULL)) > 0)),
           |final AS (
           |  SELECT w, toks FROM (SELECT w, toks, $prExpr AS pr FROM enc, m_t)
           |  WHERE len(list_filter(pr, x -> x IS NOT NULL)) = 0),
           |wpos AS (SELECT doc_id, unnest(tk) AS w, generate_subscripts(tk, 1) AS wi FROM docs),
           |tok AS (SELECT wpos.doc_id, wpos.wi, unnest(f.toks) AS token,
           |               generate_subscripts(f.toks, 1) AS ti
           |        FROM wpos JOIN final f USING (w))
           |SELECT doc_id,
           |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wi, ti) - 1 AS BIGINT) AS pos,
           |  token
           |FROM tok ORDER BY doc_id, pos""".stripMargin
      },

      "q_dedup_clusters" ->
        s"""WITH RECURSIVE ${clustersCte(hsh3, hashI, bandKey)}
           |SELECT a AS node, min(b) AS cluster_rep FROM reach GROUP BY a ORDER BY node""".stripMargin,

      // Identical oracle: cluster mode (driver union-find vs distributed
      // pointer jumping) never changes the (node, min-rep) result.
      "q_dedup_clusters_distributed" ->
        s"""WITH RECURSIVE ${clustersCte(hsh3, hashI, bandKey)}
           |SELECT a AS node, min(b) AS cluster_rep FROM reach GROUP BY a ORDER BY node""".stripMargin,

      "q_dedup_corpus" ->
        s"""WITH RECURSIVE ${clustersCte(hsh3, hashI, bandKey)},
           |losers AS (SELECT a AS node FROM reach GROUP BY a HAVING min(b) <> a)
           |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT node FROM losers)
           |ORDER BY doc_id""".stripMargin,

      // Excision replay: drop shingles with doc-frequency >
      // max(1, floor(0.2·N)) from every set, then the identical
      // capped-candidate/cluster chain over the excised sets (documents
      // whose every shingle was boilerplate pair with nothing and
      // survive as their own canon).
      "q_dedup_corpus_excise" ->
        s"""WITH RECURSIVE ${clustersCte(hsh3, hashI, bandKey, docsCte = Some(
            s"""docs0 AS (SELECT doc_id, $hsh3 AS shs FROM documents),
               |hot AS (SELECT h FROM (SELECT doc_id, unnest(shs) AS h FROM docs0)
               |        GROUP BY h
               |        HAVING count(*) > greatest(1, CAST(floor(0.2 * (SELECT count(*) FROM docs0)) AS BIGINT))),
               |docs AS (SELECT doc_id, list(h) AS shs
               |         FROM (SELECT doc_id, unnest(shs) AS h FROM docs0) u
               |         WHERE h NOT IN (SELECT h FROM hot) GROUP BY doc_id)""".stripMargin))},
           |losers AS (SELECT a AS node FROM reach GROUP BY a HAVING min(b) <> a)
           |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT node FROM losers)
           |ORDER BY doc_id""".stripMargin,

      "q_dedup_corpus_distributed" ->
        s"""WITH RECURSIVE ${clustersCte(hsh3, hashI, bandKey)},
           |losers AS (SELECT a AS node FROM reach GROUP BY a HAVING min(b) <> a)
           |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT node FROM losers)
           |ORDER BY doc_id""".stripMargin,

      // Duplicate-mass corpus: exact classes collapse to their min-id
      // canon FIRST (md5 identity), then the capped candidate/cluster
      // replay runs over the canons only — the collapse is what keeps the
      // 200-copy class both visible (its canon shingles at freq 1) and
      // cheap (no 200-wide posting ever exists).
      "q_dedup_corpus_dupheavy" ->
        s"""WITH RECURSIVE
           |src AS (SELECT doc_id, text FROM documents
           |        UNION ALL
           |        SELECT 2000000 + i, (SELECT text FROM documents WHERE doc_id = 1)
           |        FROM range(0, 200) t(i)
           |        UNION ALL
           |        SELECT 3000000 + doc_id, text FROM documents WHERE doc_id % 5 = 0),
           |canon AS (SELECT min(doc_id) AS cid FROM src GROUP BY md5(text)),
           |${clustersCte(hsh3, hashI, bandKey, "src s JOIN canon c ON s.doc_id = c.cid")},
           |losers AS (SELECT a AS node FROM reach GROUP BY a HAVING min(b) <> a)
           |SELECT cid AS doc_id FROM canon WHERE cid NOT IN (SELECT node FROM losers)
           |ORDER BY doc_id""".stripMargin,

      // Incremental dedup: replay the signature-index match (8 bands × 4
      // rows over 32 hashes, est = agreeing components / 32 — exact k/32
      // arithmetic) on the first-half index vs second-half batch, then the
      // within-batch adaptive cluster pipeline over the index misses.
      "q_dedup_incremental" ->
        s"""WITH RECURSIVE ${incrementalCte(hsh3, hashI)},
           |docs AS (SELECT doc_id, shs FROM news WHERE doc_id NOT IN (SELECT nid FROM matched)),
           |${adaptiveCandCte(hashI, bandKey)},
           |pairs AS (SELECT doc_a, doc_b FROM cand JOIN docs x ON doc_a = x.doc_id JOIN docs y ON doc_b = y.doc_id
           |  WHERE len(list_intersect(x.shs, y.shs))::DOUBLE /
           |    (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs))) >= 0.8),
           |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
           |reach(a, b) AS (SELECT DISTINCT a, a FROM edges
           |                UNION
           |                SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
           |losers AS (SELECT a AS node FROM reach GROUP BY a HAVING min(b) <> a)
           |SELECT doc_id FROM docs WHERE doc_id NOT IN (SELECT node FROM losers)
           |ORDER BY doc_id""".stripMargin,

      "q_dedup_incremental_matches" ->
        s"""WITH ${incrementalCte(hsh3, hashI)}
           |SELECT nid AS doc_id, oid AS matched_id, CAST(k AS BIGINT) AS est_32
           |FROM matched ORDER BY doc_id, matched_id""".stripMargin,

      // Tombstoned ids can never match: the serve oracle minus pairs whose
      // index side is ≡ 0 (mod 3).
      "q_dedup_index_delete" -> sigDeleteOracleSql,
      // Purge must equal mask: compact(delete) serves exactly the delete
      // replay (fresh build on survivors).
      "q_dedup_index_compact" -> sigDeleteOracleSql,
      // Streamed maintenance: three mid-stream policy compacts flip the
      // generation 1 → 2 → 3 (audit rows; batches execute serially), and
      // the post-stream probe is the signature fresh-build-on-survivors
      // replay verbatim.
      "q_index_maintain_stream" ->
        s"""SELECT surface, action, generation, doc_id, matched_id, est_32 FROM (
           |SELECT 'audit' AS surface, 'compact' AS action, CAST(g AS BIGINT) AS generation,
           |       CAST(-1 AS BIGINT) AS doc_id, CAST(-1 AS BIGINT) AS matched_id,
           |       CAST(0 AS BIGINT) AS est_32 FROM (VALUES (1),(2),(3)) AS t(g)
           |UNION ALL
           |SELECT 'probe', '-', CAST(-1 AS BIGINT), doc_id, matched_id, est_32
           |FROM ($sigDeleteOracleSql)
           |) ORDER BY surface, doc_id, matched_id, generation, est_32""".stripMargin,

      // Retention flow: both vacuum decisions are deterministic for this
      // fixture (two freshly-retired generations: the age floor holds
      // everything → none/0; the permissive policy reclaims → vacuum/1),
      // and the probe is the signature serve oracle over the % 3 = 2
      // survivors (both other residues forgotten across the two cycles).
      "q_index_vacuum_flow" ->
        s"""SELECT surface, action, generation, probe_id, matched_id, score FROM (
           |SELECT 'audit_held' AS surface, 'none' AS action, CAST(2 AS BIGINT) AS generation,
           |       CAST(-1 AS BIGINT) AS probe_id, CAST(-1 AS BIGINT) AS matched_id,
           |       CAST(0 AS BIGINT) AS score
           |UNION ALL
           |SELECT 'audit_vac', 'vacuum', CAST(2 AS BIGINT), CAST(-1 AS BIGINT),
           |       CAST(-1 AS BIGINT), CAST(1 AS BIGINT)
           |UNION ALL
           |SELECT 'sig', '-', CAST(-1 AS BIGINT), doc_id, matched_id, est_32
           |FROM (${sigDeleteOracleSql.replace("oid % 3 <> 0", "oid % 3 = 2")})
           |) ORDER BY surface, probe_id, matched_id, score""".stripMargin,

      // Maintenance flow: the audit row is deterministic for this fixture
      // (the % 3 tombstone mass fires the policy's 2% default → action
      // 'compact', the generation pointer flips 0 → 1, tombstone_rows =
      // the forget-set size), and the probe afterwards is the signature
      // delete oracle verbatim — the sweep changes cost, never content.
      "q_index_maintain_flow" ->
        s"""SELECT surface, action, generation, probe_id, matched_id, score FROM (
           |SELECT 'audit' AS surface, 'compact' AS action, CAST(1 AS BIGINT) AS generation,
           |       CAST(-1 AS BIGINT) AS probe_id, CAST(-1 AS BIGINT) AS matched_id,
           |       (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 3 = 0) AS score
           |UNION ALL
           |SELECT 'sig', '-', CAST(-1 AS BIGINT), doc_id, matched_id, est_32 FROM ($sigDeleteOracleSql)
           |) ORDER BY surface, probe_id, matched_id, score""".stripMargin,
      // Selective (dirty-partition-only) variant: a SMALL purge (% 97) so
      // most partitions are manifest-carried — results must still be the
      // fresh-build replay over the survivors.
      "q_dedup_index_compact_sel" -> sigDeleteOracleSql.replace("oid % 3 <> 0", "oid % 97 <> 0"),
      "q_jaccard_index_compact" ->
        s"""SELECT doc_id, matched_id, inter, size_a, size_b, jaccard_milli
           |FROM ($jaccardServeOracleSql) WHERE matched_id % 3 <> 0
           |ORDER BY doc_id, matched_id""".stripMargin,
      "q_jaccard_index_compact_sel" ->
        s"""SELECT doc_id, matched_id, inter, size_a, size_b, jaccard_milli
           |FROM ($jaccardServeOracleSql) WHERE matched_id % 96 <> 0
           |ORDER BY doc_id, matched_id""".stripMargin,
      // Refresh variant: index = ALL docs (evens built + odds appended)
      // minus the % 3 tombstones, probe = the % 5 ≡ 2 batch — the exact
      // all-pairs threshold join over those sets (self-pairs at jaccard
      // 1000 included: a probe doc that survives in the index matches
      // itself). The refreshed order must not move one row.
      "q_jaccard_index_refresh" ->
        jaccardServeOracleSql.replace(
          "WHERE p.doc_id % 2 = 1 AND x.doc_id % 2 = 0",
          "WHERE p.doc_id % 5 = 2 AND x.doc_id % 3 <> 0"),

      // Disk round trip + partition pruning are implementation details of
      // the same match contract — oracle identical to the in-memory form.
      "q_dedup_index_serve" ->
        s"""WITH ${incrementalCte(hsh3, hashI)}
           |SELECT nid AS doc_id, oid AS matched_id, CAST(k AS BIGINT) AS est_32
           |FROM matched ORDER BY doc_id, matched_id""".stripMargin,

      // Nightly append loop: thirds split; round 1 matches t2 vs t1,
      // round 2 matches t3 vs t1 ∪ (t2 index misses). Same 8-band × 4-row
      // geometry and exact k/32 estimate as the other index oracles; sig
      // MATERIALIZED (referenced by all three splits — inline expansion
      // would re-run the minhash arithmetic per reference).
      "q_dedup_index_append" -> {
        val bandKey4 = (1 to 4).map(k => s"sg[4*b+$k]::VARCHAR").mkString(" || ':' || ")
        s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
           |docs AS (SELECT doc_id, $hsh3 AS shs FROM documents),
           |sig AS MATERIALIZED (SELECT doc_id, [list_min([$hashI for h in shs]) for i in range(0, 32)] AS sg FROM docs),
           |t1 AS (SELECT s.* FROM sig s, mx WHERE doc_id <= m // 3),
           |t2 AS (SELECT s.* FROM sig s, mx WHERE doc_id > m // 3 AND doc_id <= (2 * m) // 3),
           |t3 AS (SELECT s.* FROM sig s, mx WHERE doc_id > (2 * m) // 3),
           |b1 AS (SELECT doc_id, b, $bandKey4 AS key FROM t1, range(0, 8) t(b)),
           |b2 AS (SELECT doc_id, b, $bandKey4 AS key FROM t2, range(0, 8) t(b)),
           |hits2 AS (SELECT DISTINCT n.doc_id AS nid, o.doc_id AS oid
           |          FROM b2 n JOIN b1 o ON n.b = o.b AND n.key = o.key),
           |m2 AS (SELECT nid FROM (
           |  SELECT nid, len([i for i in range(1, 33) if ns.sg[i] = os.sg[i]]) AS k
           |  FROM hits2 JOIN sig ns ON nid = ns.doc_id JOIN sig os ON oid = os.doc_id)
           |  WHERE k::DOUBLE / 32 >= 0.8),
           |idx3 AS MATERIALIZED (SELECT * FROM t1 UNION ALL
           |  SELECT * FROM t2 WHERE doc_id NOT IN (SELECT DISTINCT nid FROM m2)),
           |bi AS (SELECT doc_id, b, $bandKey4 AS key FROM idx3, range(0, 8) t(b)),
           |b3 AS (SELECT doc_id, b, $bandKey4 AS key FROM t3, range(0, 8) t(b)),
           |hits3 AS (SELECT DISTINCT n.doc_id AS nid, o.doc_id AS oid
           |          FROM b3 n JOIN bi o ON n.b = o.b AND n.key = o.key),
           |m3 AS (SELECT nid, oid, k FROM (
           |  SELECT nid, oid, len([i for i in range(1, 33) if ns.sg[i] = os.sg[i]]) AS k
           |  FROM hits3 JOIN sig ns ON nid = ns.doc_id JOIN idx3 os ON oid = os.doc_id)
           |  WHERE k::DOUBLE / 32 >= 0.8)
           |SELECT nid AS doc_id, oid AS matched_id, CAST(k AS BIGINT) AS est_32
           |FROM m3 ORDER BY doc_id, matched_id""".stripMargin
      },

      // Near-dup-aware pipeline: the cluster-dedup CTE feeds the same
      // quality → LM → split chain as q_corpus_prepare (stage order and
      // training subset replayed exactly).
      "q_corpus_prepare_neardup" ->
        s"""WITH RECURSIVE ${clustersCte(hsh3, hashI, bandKey)},
           |losers AS (SELECT a AS node FROM reach GROUP BY a HAVING min(b) <> a),
           |dd AS (SELECT doc_id, text FROM documents WHERE doc_id NOT IN (SELECT node FROM losers)),
           |ptoks AS (SELECT doc_id, text, ${tokensSql("text")} AS tk FROM dd),
           |q AS (SELECT doc_id, text, tk, CAST(len(tk) AS BIGINT) AS n_tokens FROM ptoks
           |  WHERE len(tk) >= 20
           |    AND (len(tk) - len(list_distinct(tk)))::DOUBLE / len(tk) <= 0.5),
           |bgx AS (SELECT doc_id, unnest([array_to_string(tk[i:i+1], ' ') for i in range(1, len(tk))]) AS bg
           |        FROM q WHERE len(tk) >= 2),
           |m AS (SELECT doc_id, bg, count(*) AS m FROM bgx GROUP BY 1, 2),
           |bc AS (SELECT bg, sum(m) AS c_bg FROM m GROUP BY 1),
           |ctx AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c_bg) AS c_ctx FROM bc GROUP BY 1),
           |v AS (SELECT count(DISTINCT tok) AS vocab FROM (SELECT unnest(tk) AS tok FROM q)),
           |sc AS (SELECT doc_id, -sum(m * ln((bc.c_bg + 1)::DOUBLE / (ctx.c_ctx + vocab))) / sum(m) AS nll
           |       FROM m JOIN bc USING (bg) JOIN ctx ON split_part(m.bg, ' ', 1) = ctx.w1, v GROUP BY doc_id),
           |kept AS (SELECT q.doc_id, q.n_tokens, sc.nll FROM q JOIN sc USING (doc_id) WHERE sc.nll < 3.45)
           |SELECT doc_id, n_tokens,
           |  CAST(floor(nll * 1000 + 0.5) AS BIGINT) AS nll_milli,
           |  CASE WHEN ${hashSql("CAST(doc_id AS VARCHAR)")} % 1000000 < 800000 THEN 'train'
           |       WHEN ${hashSql("CAST(doc_id AS VARCHAR)")} % 1000000 < 900000 THEN 'val'
           |       ELSE 'test' END AS split
           |FROM kept ORDER BY doc_id""".stripMargin,

      "q_split_leakage_safe" ->
        s"""WITH RECURSIVE ${clustersCte(hsh3, hashI, bandKey)},
           |reps AS (SELECT a AS node, min(b) AS rep FROM reach GROUP BY a),
           |keyed AS (SELECT d.doc_id, coalesce(r.rep, d.doc_id) AS k
           |          FROM documents d LEFT JOIN reps r ON d.doc_id = r.node)
           |SELECT doc_id, CASE
           |  WHEN ${hashSql("CAST(k AS VARCHAR)")} % 1000000 < 800000 THEN 'train'
           |  WHEN ${hashSql("CAST(k AS VARCHAR)")} % 1000000 < 900000 THEN 'val'
           |  ELSE 'test' END AS split
           |FROM keyed ORDER BY doc_id""".stripMargin,

      // CDC replay: the same base-257 mod-1e9+7 rolling hash as winnowing,
      // k=8 windows; cut after char i+7 (1-based) when hash % 64 == 63 and
      // the cut isn't at the very end; chunks are the segments between cuts.
      "q_text_cdc_chunks" -> {
        val mod   = 1000000007L
        val pows  = (0 to 7).map(e => BigInt(257).modPow(BigInt(e), BigInt(mod)).toLong)
        val hexpr = (0 to 7).map(j => s"ord(substr(text, i+$j, 1))::BIGINT * ${pows(7 - j)}").mkString(" + ")
        s"""WITH d AS (SELECT doc_id, text, length(text) AS L FROM documents),
           |h AS (SELECT doc_id, text, L,
           |      CASE WHEN L < 8 THEN [] ELSE [($hexpr) % $mod for i in range(1, L - 6)] END AS hs FROM d),
           |c AS (SELECT doc_id, text, L,
           |      [i + 7 for i in range(1, len(hs) + 1) if (hs[i] % 64) = 63 AND (i + 7) < L] AS cuts FROM h),
           |x AS (SELECT doc_id, text, L, cuts, unnest(range(0, len(cuts) + 1)) AS ci FROM c),
           |seg AS (SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
           |        CAST(CASE WHEN ci = 0 THEN 0 ELSE cuts[ci] END AS BIGINT) AS prev_cut,
           |        CAST(CASE WHEN ci = CAST(len(cuts) AS BIGINT) THEN L ELSE cuts[ci + 1] END AS BIGINT) AS seg_end,
           |        text FROM x)
           |SELECT doc_id, chunk_idx, prev_cut + 1 AS start_pos,
           |       seg_end - prev_cut AS chunk_len,
           |       md5(substr(text, CAST(prev_cut + 1 AS BIGINT), CAST(seg_end - prev_cut AS BIGINT))) AS chunk_md5
           |FROM seg ORDER BY doc_id, chunk_idx""".stripMargin
      },

      "q_dedup_keep_best" ->
        s"""WITH RECURSIVE ${clustersCte(hsh3, hashI, bandKey)},
           |reps AS (SELECT a AS node, min(b) AS rep FROM reach GROUP BY a),
           |scored AS (SELECT r.node, r.rep, length(d.text) AS sc
           |           FROM reps r JOIN documents d ON r.node = d.doc_id),
           |best AS (SELECT node, row_number() OVER (PARTITION BY rep ORDER BY sc DESC, node) AS rn FROM scored),
           |losers AS (SELECT node FROM best WHERE rn > 1)
           |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT node FROM losers)
           |ORDER BY doc_id""".stripMargin,

      "q_text_bpe_tokens" -> {
        val pat = graft.operators.TextAnalysis.bpePattern.replace("'", "''")
        s"SELECT doc_id, len(regexp_extract_all(text, '$pat')) AS n_bpe_tokens FROM documents ORDER BY doc_id"
      },

      "q_text_tokens" ->
        s"SELECT doc_id, len(${tokensSql("text")}) AS n_tokens FROM documents ORDER BY doc_id",

      "q_text_quality" ->
        s"""SELECT doc_id, length(text) AS n_chars, len(toks) AS n_tokens,
           |list_sum([length(x) for x in toks])::DOUBLE / greatest(len(toks), 1) AS mean_token_len,
           |length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE / greatest(length(text), 1) AS alpha_ratio,
           |len(list_filter(toks, x -> list_contains(['the','and','of','a','to','in'], x)))::DOUBLE
           |  / greatest(len(toks), 1) AS stopword_ratio
           |FROM (SELECT doc_id, text, ${tokensSql("text")} AS toks FROM documents)
           |ORDER BY doc_id""".stripMargin,

      "q_text_langid" ->
        s"SELECT doc_id, ${langIdSql("text")} AS lang_pred FROM documents ORDER BY doc_id",

      "q_text_termfreq" ->
        s"""SELECT term, count(DISTINCT doc_id) AS doc_freq, count(*) AS term_freq
           |FROM (SELECT doc_id, unnest(${tokensSql("text")}) AS term FROM documents)
           |GROUP BY term ORDER BY term""".stripMargin,

      "q_text_fingerprint" ->
        s"""SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
           |FROM documents ORDER BY doc_id""".stripMargin,

      // Winnowing fingerprint COUNT via the closed polynomial form of the
      // rolling hash: h_i = Σ_j ord(s[i+j])·257^(k-1-j) mod 1e9+7 — equal
      // to the incremental rolling computation; window minima + distinct
      // replicate the selection. k=5, window=4 (the UDF's defaults).
      "q_text_winnow" -> {
        val mod = 1000000007L
        val pows = (0 to 4).map(e => BigInt(257).modPow(BigInt(e), BigInt(mod)).toLong)
        val hexpr = (0 to 4).map(j => s"ord(substr(text, i+$j, 1))::BIGINT * ${pows(4 - j)}").mkString(" + ")
        s"""SELECT doc_id, CASE WHEN length(text) < 5 THEN 0
           |  WHEN length(text) - 4 < 4 THEN 1
           |  ELSE len(list_distinct([list_min(hs[w+1:w+4]) for w in range(0, length(text)-4-3)]))
           |END AS n_fps
           |FROM (SELECT doc_id, text, [($hexpr) % $mod for i in range(1, length(text)-3)] AS hs FROM documents)
           |ORDER BY doc_id""".stripMargin
      },

      "q_sample_hash" ->
        s"""SELECT doc_id FROM documents
           |WHERE ${hashSql("CAST(doc_id AS VARCHAR)")} % 1000000 < 250000
           |ORDER BY doc_id""".stripMargin,

      "q_split_assign" ->
        s"""SELECT doc_id, CASE
           |  WHEN ${hashSql("CAST(doc_id AS VARCHAR)")} % 1000000 < 800000 THEN 'train'
           |  WHEN ${hashSql("CAST(doc_id AS VARCHAR)")} % 1000000 < 900000 THEN 'val'
           |  ELSE 'test' END AS split
           |FROM documents ORDER BY doc_id""".stripMargin,

      "q_shard_assign" ->
        s"""WITH h AS (SELECT doc_id, ${hashSql("(doc_id || '_shard7')")} AS hv FROM documents)
           |SELECT doc_id, CAST(hv % 8 AS BIGINT) AS shard,
           |  CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv // 8, doc_id) AS BIGINT) AS pos
           |FROM h ORDER BY doc_id""".stripMargin,

      "q_corpus_shuffle" ->
        s"""SELECT doc_id,
           |  CAST(row_number() OVER (ORDER BY ${hashSql("('epoch1:' || CAST(doc_id AS VARCHAR))")}, doc_id) - 1 AS BIGINT) AS shuffle_pos
           |FROM documents ORDER BY doc_id""".stripMargin,

      "q_domain_quota" ->
        s"""WITH d AS (SELECT doc_id,
           |    CASE WHEN doc_id % 11 = 0 THEN NULL
           |         ELSE 'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' END AS host
           |  FROM documents),
           |r AS (SELECT doc_id, host,
           |    row_number() OVER (PARTITION BY host ORDER BY ${hashSql("(doc_id || '_dq')")}, doc_id) AS rn
           |  FROM d)
           |SELECT doc_id, host FROM r WHERE host IS NULL OR rn <= 3 ORDER BY doc_id""".stripMargin,

      // Token-budget selection: inclusive running-total prefix per
      // language, longest-first ties to id — integer window sum, exact.
      "q_token_budget" ->
        """WITH r AS (SELECT doc_id, lang, n_chars,
          |    sum(n_chars) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id
          |                       ROWS UNBOUNDED PRECEDING) AS cum
          |  FROM documents WHERE lang IS NOT NULL AND lang <> '')
          |SELECT doc_id, lang, n_chars FROM r WHERE cum <= 20000
          |UNION ALL
          |SELECT doc_id, lang, n_chars FROM documents WHERE lang IS NULL OR lang = ''
          |ORDER BY doc_id""".stripMargin,

      // Greedy packing replayed exactly: per shard, fold documents in id
      // order through (flush when the budget would overflow) — a
      // recursive CTE stepping row_number by row_number.
      "q_pack_sequences" ->
        s"""WITH RECURSIVE t AS (
           |  SELECT doc_id, CAST(${hashSql("(doc_id || '_pack')")} % 8 AS BIGINT) AS shard,
           |         CAST(len(${tokensSql("text")}) AS BIGINT) AS cnt
           |  FROM documents),
           |o AS (SELECT doc_id, shard, cnt,
           |        row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM t),
           |p AS (
           |  SELECT shard, rn, doc_id, cnt,
           |         CAST(0 AS BIGINT) AS seq_id, CAST(0 AS BIGINT) AS seq_offset, cnt AS used
           |  FROM o WHERE rn = 1
           |  UNION ALL
           |  SELECT o.shard, o.rn, o.doc_id, o.cnt,
           |    CASE WHEN p.used > 0 AND p.used + o.cnt > 512 THEN p.seq_id + 1 ELSE p.seq_id END,
           |    CASE WHEN p.used > 0 AND p.used + o.cnt > 512 THEN CAST(0 AS BIGINT) ELSE p.used END,
           |    CASE WHEN p.used > 0 AND p.used + o.cnt > 512 THEN o.cnt ELSE p.used + o.cnt END
           |  FROM o JOIN p ON o.shard = p.shard AND o.rn = p.rn + 1)
           |SELECT doc_id, shard, seq_id, seq_offset FROM p ORDER BY doc_id""".stripMargin,

      "q_sample_stratified" ->
        s"""SELECT event_id, event_type FROM events
           |WHERE ${hashSql("CAST(event_id AS VARCHAR)")} % 1000000 <
           |  CASE event_type WHEN 'purchase' THEN 500000 WHEN 'click' THEN 200000
           |                  WHEN 'view' THEN 100000 ELSE 0 END
           |ORDER BY event_id""".stripMargin,

      // Mixture sampling at T = 2: the rate chain is replayed with the
      // exact operation order — fixed-point sqrt (floor(sqrt(n)·2^20),
      // IEEE-exact), integer Z and budget, then the parenthesized double
      // chain ((B/Z)·s)/n — so thresholds are bit-equal cross-engine.
      "q_sample_mixture" ->
        s"""WITH c AS (SELECT lang AS dom, count(*) AS n FROM documents GROUP BY 1),
           |s AS (SELECT dom, n, CAST(floor(sqrt(n) * 1048576) AS BIGINT) AS sc FROM c),
           |t AS (SELECT sum(sc) AS z, sum(n) AS total FROM s),
           |r AS (SELECT dom,
           |        least(CAST(floor((((CAST(CAST(round(total * 0.5) AS BIGINT) AS DOUBLE) / z) * sc) / n) * 1000000) AS BIGINT),
           |              1000000) AS thr
           |      FROM s, t)
           |SELECT d.doc_id, d.lang FROM documents d
           |JOIN r ON d.lang IS NOT DISTINCT FROM r.dom
           |WHERE ${hashSql("CAST(doc_id AS VARCHAR)")} % 1000000 < r.thr
           |ORDER BY d.doc_id""".stripMargin,

      // DuckDB's native ASOF JOIN is the oracle for the union+window
      // formulation; ties are impossible in the fixture (no duplicate
      // (user_id, ts_us) pairs at any SF — verified).
      // The binned formulation must reproduce the plain theta join
      // pair-for-pair — the oracle IS that theta join.
      "q_range_join" ->
        """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events),
          |w AS (SELECT event_id AS promo_id, user_id, ts_us AS ws, ts_us + 600000000 AS we
          |      FROM ev WHERE event_type = 'purchase')
          |SELECT ev.event_id, w.promo_id
          |FROM ev JOIN w ON ev.user_id = w.user_id AND ev.ts_us >= w.ws AND ev.ts_us < w.we
          |ORDER BY ev.event_id, w.promo_id""".stripMargin,

      "q_interval_overlap" ->
        """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events),
          |p AS (SELECT event_id AS promo_id, user_id, ts_us AS ps, ts_us + 600000000 AS pe
          |      FROM ev WHERE event_type = 'purchase'),
          |c AS (SELECT event_id AS click_id, user_id, ts_us AS cs, ts_us + 300000000 AS ce
          |      FROM ev WHERE event_type = 'click')
          |SELECT promo_id, click_id
          |FROM p JOIN c ON p.user_id = c.user_id AND greatest(ps, cs) < least(pe, ce)
          |ORDER BY promo_id, click_id""".stripMargin,

      "q_asof_join" ->
        """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events),
          |p AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'purchase'),
          |c AS (SELECT event_id AS click_id, user_id, ts_us FROM ev WHERE event_type = 'click')
          |SELECT p.user_id, p.event_id, p.ts_us, c.click_id AS asof_click_id, c.ts_us AS asof_ts_us
          |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
          |ORDER BY p.event_id""".stripMargin,

      // stride = 20 - 5 = 15; chunk k covers tokens [k*15, min(k*15+20, n)).
      "q_text_chunks" ->
        s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
           |n AS (SELECT doc_id, tk, len(tk) AS lt FROM toks WHERE len(tk) > 0),
           |ch AS (SELECT doc_id, tk, lt, unnest(range(0, (lt + 14) // 15)) AS k FROM n)
           |SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
           |  array_to_string(tk[k*15 + 1 : least(k*15 + 20, lt)], ' ') AS chunk_text,
           |  CAST(least(k*15 + 20, lt) - k*15 AS BIGINT) AS n_tokens
           |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,

      "q_text_shared_spans" -> {
        val hsh30 = s"list_distinct(list_transform(${shinglesSql("text", 30)}, s -> ${hashSql("s")}))"
        s"""WITH docs AS (SELECT doc_id, $hsh30 AS shs FROM documents),
           |g AS (SELECT doc_id, unnest(shs) AS gram FROM docs),
           |sh AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
           |c AS (SELECT g.doc_id, count(*) AS n FROM g JOIN sh USING (gram) GROUP BY g.doc_id)
           |SELECT d.doc_id, CAST(len(d.shs) AS BIGINT) AS n_grams,
           |       CAST(coalesce(c.n, 0) AS BIGINT) AS n_shared_grams
           |FROM docs d LEFT JOIN c ON d.doc_id = c.doc_id ORDER BY d.doc_id""".stripMargin
      },

      // Replays the excision pipeline verbatim: positional 30-grams →
      // cross-doc duplicated set → hit-interval island merge (running-max
      // window) → complement stitch via ordered string_agg. Docs shorter
      // than k produce no grams (empty range); untouched docs pass their
      // text through the left joins.
      "q_text_substring_dedup" ->
        """WITH docs AS (SELECT doc_id, text FROM documents),
          |grams AS (
          |  SELECT doc_id, unnest(range(1, greatest(length(text) - 30 + 2, 1))) AS pos, text FROM docs),
          |g2 AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos, substr(text, CAST(pos AS INT), 30) AS g FROM grams),
          |dup AS (SELECT g FROM g2 GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
          |hits AS (SELECT doc_id, pos FROM g2 WHERE g IN (SELECT g FROM dup)),
          |marks AS (
          |  SELECT doc_id, pos,
          |    CASE WHEN pos > coalesce(max(pos + 30) OVER (PARTITION BY doc_id ORDER BY pos
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS new_island
          |  FROM hits),
          |islands AS (
          |  SELECT doc_id, pos, sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM marks),
          |rem AS (SELECT doc_id, isl, min(pos) AS s, max(pos) + 30 AS e FROM islands GROUP BY doc_id, isl),
          |kept AS (
          |  SELECT r.doc_id, d.text,
          |         coalesce(lag(r.e) OVER (PARTITION BY r.doc_id ORDER BY r.s), 1) AS ks, r.s AS ke
          |  FROM rem r JOIN docs d USING (doc_id)
          |  UNION ALL
          |  SELECT r.doc_id, d.text, max(r.e) AS ks, length(d.text) + 1 AS ke
          |  FROM rem r JOIN docs d USING (doc_id) GROUP BY r.doc_id, d.text),
          |clean AS (
          |  SELECT doc_id, string_agg(substr(text, CAST(ks AS INT), CAST(ke - ks AS INT)), '' ORDER BY ks) AS ctext
          |  FROM kept GROUP BY doc_id),
          |spans AS (SELECT doc_id, count(*) AS n_spans, sum(e - s) AS removed FROM rem GROUP BY doc_id)
          |SELECT d.doc_id, coalesce(c.ctext, d.text) AS clean_text,
          |       CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans,
          |       CAST(coalesce(s.removed, 0) AS BIGINT) AS n_removed_chars
          |FROM docs d LEFT JOIN clean c USING (doc_id) LEFT JOIN spans s USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin,

      // Serving-form excision: corpus half's DISTINCT grams are the
      // contamination set; probe half replays the same island/stitch tail.
      "q_text_excise_serve" -> exciseServeOracleSql,
      // Append + compact must be indistinguishable from the one-shot
      // build of the same gram vocabulary — the serve oracle verbatim.
      "q_gram_index_compact" -> exciseServeOracleSql,

      // The streamed serving twin probes the same frozen index per
      // micro-batch — identical result contract.
      "q_text_excise_stream" -> exciseServeOracleSql,

      "q_sample_weighted" ->
        s"""SELECT event_id, event_type FROM events
           |WHERE ${hashSql("CAST(event_id AS VARCHAR)")} % 1000000 <
           |  CAST(floor(least(greatest(value / 100.0, 0.0), 1.0) * 1000000) AS BIGINT)
           |ORDER BY event_id""".stripMargin,

      // DSIR importance resampling replay: the shared model chain (the
      // per-bucket log-ratio rounded to nano-nats EXACTLY as the Scala
      // side does — floor(x + 0.5) = math.round — then an integer-only
      // per-doc dot product, summation-order-proof), top-quota cut.
      "q_sample_importance" ->
        s"""WITH $importanceCtes
           |SELECT doc_id, weight_fp FROM w
           |ORDER BY weight_fp DESC, doc_id LIMIT 50""".stripMargin,

      // Per-stratum rank by the id-hash order, cut at k = 20.
      "q_sample_fixed_strata" ->
        s"""SELECT doc_id, lang FROM (
           |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
           |    ORDER BY ${hashSql("CAST(doc_id AS VARCHAR)")} % 1000000, doc_id) AS rk
           |  FROM documents) WHERE rk <= 20
           |ORDER BY lang, doc_id""".stripMargin,

      // The oracle IS the global sort the two-phase plan avoids.
      "q_batch_bucketed" ->
        s"""SELECT doc_id, n_chars,
           |  CAST(row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS BIGINT) AS global_pos,
           |  CAST((row_number() OVER (ORDER BY n_chars, doc_id) - 1) // 32 AS BIGINT) AS batch_id
           |FROM documents ORDER BY doc_id""".stripMargin,

      // The streamed serving form scores EVERY doc (no top-quota — global
      // top-k is not an Append-mode shape); same model replay, keyed scan.
      "q_sample_importance_stream" ->
        s"""WITH $importanceCtes
           |SELECT doc_id, weight_fp FROM w ORDER BY doc_id""".stripMargin,

      // The COMPOSED streaming pipeline: ensemble-filtered new-half docs,
      // minus those matching the historical half's signature index, with
      // their DSIR weights — all three stages' chains in one WITH, each
      // shared verbatim with its standalone gate.
      "q_corpus_pipeline_stream" ->
        s"""WITH $ensembleCtes,
           |${incrementalCte(hsh3, hashI)},
           |$importanceCtes,
           |surv AS (SELECT f.doc_id FROM flags f, mx
           |         WHERE f.doc_id > mx.s AND f.cls_kept AND f.lm_kept AND f.heur_kept),
           |final AS (SELECT s.doc_id FROM surv s
           |          WHERE s.doc_id NOT IN (SELECT nid FROM matched))
           |SELECT f.doc_id, w.weight_fp FROM final f JOIN w ON f.doc_id = w.doc_id
           |ORDER BY f.doc_id""".stripMargin,

      "q_asof_forward" ->
        """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events),
          |p AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'purchase'),
          |c AS (SELECT event_id AS click_id, user_id, ts_us FROM ev WHERE event_type = 'click')
          |SELECT p.user_id, p.event_id, p.ts_us, c.click_id AS asof_click_id, c.ts_us AS asof_ts_us
          |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_us <= c.ts_us
          |ORDER BY p.event_id""".stripMargin,

      // Planted-hit blocklist replay (same derived text, same frozen list,
      // lowercase fold, occurrence counting).
      "q_text_blocklist" -> {
        val derived = "text || CASE WHEN doc_id % 5 = 0 THEN ' CONFIDENTIAL notice' ELSE '' END" +
          " || CASE WHEN doc_id % 11 = 0 THEN ' secret secret internal' ELSE '' END"
        s"""SELECT doc_id, n_blocked, n_blocked = 0 AS kept FROM (
           |  SELECT doc_id, CAST(len(list_filter(${tokensSql(s"($derived)")},
           |    t -> list_contains(['confidential','secret','internal'], lower(t)))) AS BIGINT) AS n_blocked
           |  FROM documents)
           |ORDER BY doc_id""".stripMargin
      },

      // First-occurrence line filter: DuckDB's lambda index is 1-based and
      // list_position returns the FIRST 1-based match — exactly Spark's
      // array_position(l, x) = i + 1 with its 0-based index.
      "q_text_line_dedup_within" -> {
        val derived = "substr(text, 1, 40) || chr(10) || 'FOOTER' || chr(10) || " +
          "substr(text, 1, 40) || chr(10) || text || chr(10) || 'FOOTER'"
        s"""WITH d AS (SELECT doc_id, $derived AS t FROM documents)
           |SELECT doc_id, array_to_string(
           |  list_filter(str_split(t, chr(10)), (x, i) -> list_position(str_split(t, chr(10)), x) = i),
           |  chr(10)) AS cleaned
           |FROM d ORDER BY doc_id""".stripMargin
      },

      // Snapshot diff: status by direct text comparison (the Spark side's
      // MD5 equality is content equality).
      "q_corpus_diff" ->
        s"""WITH v2 AS (
           |  SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
           |  FROM documents WHERE doc_id % 13 <> 0
           |  UNION ALL
           |  SELECT doc_id + 10000000, 'new doc ' || CAST(doc_id AS VARCHAR)
           |  FROM documents WHERE doc_id % 17 = 0)
           |SELECT coalesce(d.doc_id, v2.doc_id) AS doc_id,
           |  CASE WHEN d.doc_id IS NULL THEN 'added'
           |       WHEN v2.doc_id IS NULL THEN 'removed'
           |       WHEN d.text = v2.text THEN 'unchanged'
           |       ELSE 'changed' END AS status
           |FROM documents d FULL OUTER JOIN v2 ON d.doc_id = v2.doc_id
           |ORDER BY doc_id""".stripMargin,

      "q_text_pii_scrub" -> {
        val email = graft.operators.TextAnalysis.EmailPattern.replace("'", "''")
        val phone = graft.operators.TextAnalysis.PhonePattern.replace("'", "''")
        s"""SELECT doc_id, regexp_replace(regexp_replace(
           |  substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or (555) 123-4567 now',
           |  '$email', '<EMAIL>', 'g'), '$phone', '<PHONE>', 'g') AS scrubbed
           |FROM documents ORDER BY doc_id""".stripMargin
      },

      "q_tfidf_top_terms" ->
        s"""WITH toks AS (SELECT doc_id, unnest(${tokensSql("text")}) AS term FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
           |dfq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1),
           |r AS (SELECT doc_id, term, tf, doc_freq,
           |      row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, doc_freq ASC, term ASC) AS rnk
           |      FROM tf JOIN dfq USING (term))
           |SELECT doc_id, term, tf, doc_freq, rnk FROM r WHERE rnk <= 3
           |ORDER BY doc_id, rnk""".stripMargin,

      // Ground-truth components via recursive min-label closure over the
      // symmetrized edge set — whatever structure the quotient link
      // functions induce, the pointer-jumping result must equal it.
      "q_graph_cc" ->
        """WITH RECURSIVE par AS (SELECT max(doc_id) + 1 AS nn, (max(doc_id) + 1) // 16 AS qq FROM documents),
          |e0 AS (SELECT doc_id AS src, (((doc_id // 16) * 7 + 1) % qq) * 16 + doc_id % 16 AS dst
          |       FROM documents, par
          |       UNION ALL
          |       SELECT doc_id, (((doc_id // 16) * 13 + 2) % qq) * 16 + doc_id % 16
          |       FROM documents, par),
          |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
          |r(node, lbl) AS (
          |  SELECT src, src FROM e
          |  UNION
          |  SELECT e.dst, r.lbl FROM r JOIN e ON e.src = r.node)
          |SELECT node, min(lbl) AS component FROM r GROUP BY node ORDER BY node""".stripMargin,

      "q_pagerank" -> pageRankOracleSql,

      "q_pagerank_stochastic" -> pageRankStochasticOracleSql,
      "q_trustrank"           -> pageRankPersonalizedOracleSql,

      // Supervised classifier: hashed-token counts joined against the
      // pinned micro-unit weights — pure integer arithmetic, exact.
      // Shared verbatim by the streamed serving gate (stateless scoring ⇒
      // streamed == batch row-for-row).
      "q_text_classifier_score" -> classifierScoreSql,

      "q_text_classifier_stream" -> classifierScoreSql,

      // Calibrated LM filter: the shared LM chain, then the exact k-th
      // smallest milli score (row_number = k ≡ the histogram prefix sum)
      // as the cutoff; ceil(0.7·n) replayed in the same double math.
      "q_text_lm_calibrated" ->
        s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
           |bgx AS (SELECT doc_id, unnest([array_to_string(tk[i:i+1], ' ') for i in range(1, len(tk))]) AS bg
           |        FROM toks WHERE len(tk) >= 2),
           |m AS (SELECT doc_id, bg, count(*) AS m FROM bgx GROUP BY 1, 2),
           |bc AS (SELECT bg, sum(m) AS c_bg FROM m GROUP BY 1),
           |ctx AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c_bg) AS c_ctx FROM bc GROUP BY 1),
           |v AS (SELECT count(DISTINCT tok) AS vocab FROM (SELECT unnest(tk) AS tok FROM toks)),
           |sc AS (SELECT doc_id, -sum(m * ln((bc.c_bg + 1)::DOUBLE / (ctx.c_ctx + vocab))) / sum(m) AS nll,
           |       sum(m) AS n_bigrams
           |       FROM m JOIN bc USING (bg) JOIN ctx ON split_part(m.bg, ' ', 1) = ctx.w1, v GROUP BY doc_id),
           |all0 AS (SELECT t.doc_id, CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           |         CAST(floor(coalesce(sc.nll, 0) * 1000 + 0.5) AS BIGINT) AS nll_milli
           |         FROM (SELECT DISTINCT doc_id FROM documents) t LEFT JOIN sc USING (doc_id)),
           |nn AS (SELECT count(*) AS n FROM all0),
           |kk AS (SELECT CAST(greatest(1, ceil(0.7 * n)) AS BIGINT) AS k FROM nn),
           |ranked AS (SELECT nll_milli, row_number() OVER (ORDER BY nll_milli) AS rn FROM all0),
           |cut AS (SELECT nll_milli AS cut FROM ranked, kk WHERE rn = k)
           |SELECT a.doc_id, a.n_bigrams, a.nll_milli, (SELECT cut FROM cut) AS cutoff_milli
           |FROM all0 a WHERE a.nll_milli <= (SELECT cut FROM cut)
           |ORDER BY a.doc_id""".stripMargin,

      // The serving form shares the retrieval oracle verbatim: a parquet
      // round-trip of the index must not change a single score bit.
      "q_bm25_index_serve" -> bm25OracleSql,

      // Term-bucket partition pruning is an implementation detail of the
      // same retrieval contract — oracle identical.
      "q_bm25_index_pruned" -> bm25OracleSql,

      // Append-then-serve must equal build-all-then-serve: same oracle.
      "q_bm25_index_append" -> bm25OracleSql,

      // Delete-then-serve must equal build-without-them: the same replay
      // over the surviving corpus (df/avgdl/N all re-derived).
      "q_bm25_index_delete" -> bm25DeleteOracleSql,
      // Compacted stats must re-derive identically to a fresh build on the
      // surviving corpus — the delete replay verbatim (scores, not just
      // membership).
      "q_bm25_index_compact" -> bm25DeleteOracleSql,
      // Selective variant (small purge): doc_freq recounts only in the
      // dirty term buckets, clean buckets carry — scores still re-derive
      // exactly as a fresh build without the purged docs.
      "q_bm25_index_compact_sel" ->
        bm25OracleSql.replace("FROM documents)", "FROM documents WHERE doc_id % 97 <> 0)"),

      // Streamed-query serving against the same persisted index: per-query
      // rankings are micro-batch independent — oracle identical.
      "q_bm25_serve_stream" -> bm25OracleSql,

      // BM25 replay: identical idf/tf-part parenthesization (k1 = 1.2 and
      // k1+1 left as literal arithmetic so both engines round the same
      // doubles), nano fixed point before the per-(query, doc) sum.
      "q_bm25_topk" -> bm25OracleSql,

      // Hybrid fusion replay: the BM25 CTE chain verbatim (lexical ranks,
      // CTE `r`), the q_knn_ivf_probe CTE chain with queries 1-5 (dense
      // ranks), then RRF with exact integer contributions
      // 1e9 // (60 + rnk) — no float enters the fused score, so the
      // (rrf_nano DESC, doc_id) order is engine-independent by
      // construction.
      "q_hybrid_retrieval" -> {
        val centsCte = {
          val m = graft.operators.IvfPinned.centroids
          val arr = m.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
          s"cents_t AS (SELECT $arr AS ct)"
        }
        val nlist   = graft.operators.IvfPinned.nlist
        val cellCos = cosineSql("v.ve", "ct[cells.cell + 1]")
        s"""WITH $centsCte,
           |$bm25Ctes,
           |v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
           |cells AS (SELECT unnest(range(0, $nlist)) AS cell),
           |asg AS (SELECT vec_id AS neighbor_id, ve AS cv, cell FROM (
           |  SELECT v.vec_id, v.ve, cells.cell,
           |         row_number() OVER (PARTITION BY v.vec_id ORDER BY $cellCos DESC, cells.cell) AS pr
           |  FROM v, cents_t, cells) WHERE pr = 1),
           |probes AS (SELECT query_id, qv, cell FROM (
           |  SELECT v.vec_id AS query_id, v.ve AS qv, cells.cell,
           |         row_number() OVER (PARTITION BY v.vec_id ORDER BY $cellCos DESC, cells.cell) AS pr
           |  FROM v, cents_t, cells WHERE v.vec_id BETWEEN 1 AND 5) WHERE pr <= 4),
           |dsc AS (SELECT query_id, neighbor_id, ${cosineSql("qv", "cv")} AS cos
           |        FROM probes JOIN asg USING (cell) WHERE query_id <> neighbor_id),
           |dr AS (SELECT query_id, neighbor_id AS doc_id,
           |       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM dsc),
           |fused AS (
           |  SELECT query_id, doc_id, CAST(1000000000 AS BIGINT) // (60 + rnk) AS contrib
           |  FROM r WHERE rnk <= 10
           |  UNION ALL
           |  SELECT query_id, doc_id, CAST(1000000000 AS BIGINT) // (60 + rnk)
           |  FROM dr WHERE rnk <= 10),
           |fagg AS (SELECT query_id, doc_id, CAST(sum(contrib) AS BIGINT) AS rrf_nano,
           |         count(*) AS n_systems FROM fused GROUP BY 1, 2),
           |fr AS (SELECT query_id, doc_id, rrf_nano, n_systems,
           |       row_number() OVER (PARTITION BY query_id ORDER BY rrf_nano DESC, doc_id) AS rnk FROM fagg)
           |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id,
           |       CAST(rnk AS BIGINT) AS rnk, rrf_nano, CAST(n_systems AS BIGINT) AS n_systems
           |FROM fr WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin
      },

      "q_text_urls" -> {
        val pat = graft.operators.TextAnalysis.UrlPattern.replace("'", "''")
        s"""SELECT doc_id,
           |len(regexp_extract_all(x, '$pat')) AS n_urls,
           |regexp_extract(regexp_extract_all(x, '$pat')[1], 'https?://([^/]+)', 1) AS first_host
           |FROM (SELECT doc_id,
           |  substr(text, 1, 20) || ' see https://site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/page' ||
           |  CASE WHEN doc_id % 3 = 0 THEN ' and http://example.org/x' ELSE '' END AS x
           |  FROM documents)
           |ORDER BY doc_id""".stripMargin
      },

      "q_profile" -> {
        def per(c: String) =
          s"""SELECT '$c' AS column_name, count(*) AS n_rows,
             |count(*) - count($c) AS n_nulls, count(DISTINCT $c) AS n_distinct,
             |CAST(min($c) AS VARCHAR) AS min_value, CAST(max($c) AS VARCHAR) AS max_value
             |FROM orders""".stripMargin
        Seq("o_orderkey", "o_orderstatus", "o_totalprice").map(per).mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
      },

      // HLL-regime profile: cross-engine HLL hash parity is impossible
      // (different sketches), so the gate is SELF-CHECKING — it hashes the
      // per-column ≤2%-relative-error verdict (computed against the exact
      // counts inside the gate closure) plus the mode-independent exact
      // stats; the oracle expects TRUE everywhere.
      "q_profile_hll" -> {
        def per(c: String) =
          s"""SELECT '$c' AS column_name, count(*) AS n_rows,
             |count(*) - count($c) AS n_nulls, true AS hll_within_2pct,
             |CAST(min($c) AS VARCHAR) AS min_value, CAST(max($c) AS VARCHAR) AS max_value
             |FROM orders""".stripMargin
        Seq("o_orderkey", "o_orderstatus", "o_totalprice").map(per).mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
      },

      // Exact-regime heavy hitters: the sketch's err_bound must be 0 and
      // its top-k identical to the exact corpus term counts.
      "q_profile_heavy_hitters" ->
        s"""SELECT term, count(*) AS est_count, CAST(0 AS BIGINT) AS err_bound
           |FROM (SELECT unnest(${tokensSql("text")}) AS term FROM documents)
           |GROUP BY term ORDER BY est_count DESC, term LIMIT 25""".stripMargin,

      "q_term_drift" -> termDriftOracleSql,

      // Streamed: frozen even-doc_id reference histogram vs Complete-mode
      // running counts over the odd-doc_id stream — same totals, same KL.
      "q_term_drift_stream" -> termDriftOracleSql,

      // Per-2-minute-window replay: each emitted window carries the full
      // reference vocabulary (outer-joined with its own current counts)
      // and its OWN smoothing totals + union-vocab size. Windows are
      // epoch-aligned on the synthetic ts = 1700000000000 + doc_id·1000 ms.
      "q_term_drift_windowed" ->
        s"""WITH a AS (SELECT token AS term, count(*) AS c_a
           |           FROM (SELECT unnest(${tokensSql("text")}) AS token FROM documents WHERE doc_id % 2 = 0) GROUP BY 1),
           |cur AS (SELECT win_us, token AS term, count(*) AS c_b
           |        FROM (SELECT ((1700000000000 + doc_id * 1000) // 120000) * 120000000 AS win_us,
           |                     unnest(${tokensSql("text")}) AS token
           |              FROM documents WHERE doc_id % 2 = 1)
           |        GROUP BY 1, 2),
           |refw AS (SELECT win_us, term, c_a FROM (SELECT DISTINCT win_us FROM cur), a),
           |j AS (SELECT coalesce(refw.win_us, cur.win_us) AS win_us,
           |      coalesce(refw.term, cur.term) AS term,
           |      coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b
           |      FROM refw FULL OUTER JOIN cur
           |        ON refw.win_us = cur.win_us AND refw.term = cur.term),
           |t AS (SELECT win_us, sum(c_a) AS na, sum(c_b) AS nb, count(*) AS v FROM j GROUP BY 1),
           |p AS (SELECT j.win_us, term, c_a, c_b,
           |      (c_a + 1)::DOUBLE / (na + v) AS pa, (c_b + 1)::DOUBLE / (nb + v) AS pb
           |      FROM j JOIN t ON j.win_us = t.win_us)
           |SELECT win_us, term, CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
           |  CAST(floor(pa * ln(pa / pb) * 1e9 + 0.5) AS BIGINT) AS kl_ab_nano,
           |  CAST(floor(pb * ln(pb / pa) * 1e9 + 0.5) AS BIGINT) AS kl_ba_nano
           |FROM p ORDER BY win_us, term""".stripMargin,

      "q_vocab_coverage" ->
        s"""WITH c AS (SELECT token, count(*) AS token_count
           |           FROM (SELECT unnest(${tokensSql("text")}) AS token FROM documents) GROUP BY 1),
           |r AS (SELECT token, token_count,
           |      CAST(row_number() OVER (ORDER BY token_count DESC, token) AS BIGINT) AS rank,
           |      (sum(token_count) OVER (ORDER BY token_count DESC, token ROWS UNBOUNDED PRECEDING))::DOUBLE
           |        / (sum(token_count) OVER ())::DOUBLE AS cum_fraction
           |      FROM c),
           |cut AS (SELECT token_count AS cc FROM r WHERE cum_fraction >= 0.9 ORDER BY rank LIMIT 1)
           |SELECT token, token_count, rank, cum_fraction FROM r, cut
           |WHERE token_count >= cc ORDER BY rank""".stripMargin,

      // URL dedup: the canonicalizer's contract in closed form — lowered
      // scheme/host, :80 stripped, trailing slash collapsed, path case
      // KEPT, utm_* dropped, survivors sorted, fragment dropped.
      "q_url_dedup" ->
        """WITH u AS (SELECT doc_id,
          |  'http://site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/Page/' || CAST(doc_id % 5 AS VARCHAR) ||
          |  CASE WHEN doc_id % 3 > 0 THEN '?a=1&b=2' ELSE '' END AS canonical_url
          |FROM documents)
          |SELECT canonical_url, min(doc_id) AS canonical_id, count(*) AS n_copies
          |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,

      // Bigram-LM replay: identical count/smoothing/score arithmetic; the
      // doc_id join at the end restores zero-evidence short documents.
      // The scan-local serving gate shares it verbatim (the two scorers
      // agree to summation order; milli-nat fixed point absorbs that).
      "q_text_lm_score" -> lmScoreSql,

      "q_text_lm_score_local" -> lmScoreSql,

      "q_text_lm_score_stream" -> lmScoreSql,

      // Pipeline replay: stage order matters and is replayed exactly —
      // dedup keeps min-id per md5, quality bounds filter the dedup
      // survivors, the bigram LM trains on (and scores) the QUALITY
      // survivors, the split hashes the surviving ids.
      "q_corpus_prepare" ->
        s"""WITH dd AS (SELECT doc_id, text FROM documents
           |  WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))),
           |toks AS (SELECT doc_id, text, ${tokensSql("text")} AS tk FROM dd),
           |q AS (SELECT doc_id, text, tk, CAST(len(tk) AS BIGINT) AS n_tokens FROM toks
           |  WHERE len(tk) >= 20
           |    AND (len(tk) - len(list_distinct(tk)))::DOUBLE / len(tk) <= 0.5),
           |bgx AS (SELECT doc_id, unnest([array_to_string(tk[i:i+1], ' ') for i in range(1, len(tk))]) AS bg
           |        FROM q WHERE len(tk) >= 2),
           |m AS (SELECT doc_id, bg, count(*) AS m FROM bgx GROUP BY 1, 2),
           |bc AS (SELECT bg, sum(m) AS c_bg FROM m GROUP BY 1),
           |ctx AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c_bg) AS c_ctx FROM bc GROUP BY 1),
           |v AS (SELECT count(DISTINCT tok) AS vocab FROM (SELECT unnest(tk) AS tok FROM q)),
           |sc AS (SELECT doc_id, -sum(m * ln((bc.c_bg + 1)::DOUBLE / (ctx.c_ctx + vocab))) / sum(m) AS nll
           |       FROM m JOIN bc USING (bg) JOIN ctx ON split_part(m.bg, ' ', 1) = ctx.w1, v GROUP BY doc_id),
           |kept AS (SELECT q.doc_id, q.n_tokens, sc.nll FROM q JOIN sc USING (doc_id) WHERE sc.nll < 3.45)
           |SELECT doc_id, n_tokens,
           |  CAST(floor(nll * 1000 + 0.5) AS BIGINT) AS nll_milli,
           |  CASE WHEN ${hashSql("CAST(doc_id AS VARCHAR)")} % 1000000 < 800000 THEN 'train'
           |       WHEN ${hashSql("CAST(doc_id AS VARCHAR)")} % 1000000 < 900000 THEN 'val'
           |       ELSE 'test' END AS split
           |FROM kept ORDER BY doc_id""".stripMargin,

      // Line-dedup replay: same derivation, same md5(trim(line)) hot key,
      // same ≥3 threshold, reassembly ordered by line index.
      "q_text_line_dedup" ->
        """WITH d AS (SELECT doc_id,
          |  'SUBSCRIBE TO OUR NEWSLETTER' || chr(10) || substr(text, 1, 60) || chr(10) ||
          |  substr(text, 61, 60) || chr(10) ||
          |  'share this article ' || CAST(doc_id % 3 AS VARCHAR) || chr(10) ||
          |  'promo ' || CAST(doc_id % 250 AS VARCHAR) || chr(10) ||
          |  'COPYRIGHT 2024 EXAMPLE CORP' AS text FROM documents),
          |l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
          |      generate_subscripts(string_split(text, chr(10)), 1) AS idx FROM d),
          |k AS (SELECT doc_id, idx, line, md5(trim(line)) AS lkey FROM l),
          |hot AS (SELECT lkey FROM k GROUP BY lkey HAVING count(*) >= 3),
          |kept AS (SELECT doc_id, idx, line FROM k WHERE lkey NOT IN (SELECT lkey FROM hot)),
          |agg AS (SELECT doc_id, count(*) AS n_lines_kept,
          |        string_agg(line, chr(10) ORDER BY idx) AS text FROM kept GROUP BY doc_id)
          |SELECT t.doc_id, CAST(coalesce(agg.n_lines_kept, 0) AS BIGINT) AS n_lines_kept,
          |       md5(coalesce(agg.text, '')) AS text_md5
          |FROM (SELECT DISTINCT doc_id FROM documents) t LEFT JOIN agg ON t.doc_id = agg.doc_id
          |ORDER BY t.doc_id""".stripMargin,

      "q_text_ngrams" ->
        s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
           |g AS (SELECT doc_id, unnest([array_to_string(tk[i:i+1], ' ') for i in range(1, len(tk))]) AS ngram
           |      FROM toks WHERE len(tk) >= 2)
           |SELECT ngram, count(DISTINCT doc_id) AS doc_freq, count(*) AS ngram_freq
           |FROM g GROUP BY ngram HAVING count(*) >= 3 ORDER BY ngram""".stripMargin,

      "q_decontaminate" ->
        s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
           |g AS (SELECT doc_id, unnest(list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)])) AS gram
           |      FROM toks WHERE len(tk) >= 3),
           |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
           |corpus AS (SELECT * FROM g WHERE doc_id % 50 <> 0),
           |ov AS (SELECT c.doc_id, count(*) AS n_overlap FROM corpus c JOIN bench b USING (gram) GROUP BY c.doc_id),
           |tot AS (SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY doc_id)
           |SELECT t.doc_id, t.n_grams, CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap
           |FROM tot t LEFT JOIN ov ON t.doc_id = ov.doc_id ORDER BY t.doc_id""".stripMargin,

      // Bloom decontamination: the exact replay plus TRUE verdict columns
      // (the gate computes the Bloom-vs-exact comparison itself — see the
      // gate doc for why the hit set is not cross-engine replayable).
      "q_decontaminate_bloom" ->
        s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
           |g AS (SELECT doc_id, unnest(list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)])) AS gram
           |      FROM toks WHERE len(tk) >= 3),
           |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
           |corpus AS (SELECT * FROM g WHERE doc_id % 50 <> 0),
           |ov AS (SELECT c.doc_id, count(*) AS n_overlap FROM corpus c JOIN bench b USING (gram) GROUP BY c.doc_id),
           |tot AS (SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY doc_id)
           |SELECT t.doc_id, t.n_grams, CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           |       true AS no_false_negatives, true AS fp_within_bound
           |FROM tot t LEFT JOIN ov ON t.doc_id = ov.doc_id ORDER BY t.doc_id""".stripMargin,

      "q_text_repetition" ->
        s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
           |b AS (SELECT doc_id, tk, [array_to_string(tk[i:i+1], ' ') for i in range(1, len(tk))] AS bg FROM toks)
           |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
           |  CASE WHEN len(tk) = 0 THEN CAST(0.0 AS DOUBLE)
           |       ELSE CAST(len(tk) - len(list_distinct(tk)) AS DOUBLE) / len(tk) END AS dup_token_frac,
           |  CASE WHEN len(tk) < 2 THEN CAST(0.0 AS DOUBLE)
           |       ELSE CAST(list_max([len(list_filter(bg, x -> x = g)) for g in list_distinct(bg)]) AS DOUBLE) / len(bg) END AS top_bigram_frac
           |FROM b ORDER BY doc_id""".stripMargin,

      "q_quality_filter" ->
        s"""WITH toks AS (SELECT doc_id, text, ${tokensSql("text")} AS tk FROM documents),
           |b AS (SELECT doc_id, text, tk, [array_to_string(tk[i:i+1], ' ') for i in range(1, len(tk))] AS bg FROM toks),
           |m AS (SELECT doc_id,
           |  CAST(len(tk) AS BIGINT) AS n_tokens,
           |  CASE WHEN len(tk) = 0 THEN CAST(0.0 AS DOUBLE)
           |       ELSE CAST(len(tk) - len(list_distinct(tk)) AS DOUBLE) / len(tk) END AS dup_token_frac,
           |  CASE WHEN len(tk) < 2 THEN CAST(0.0 AS DOUBLE)
           |       ELSE CAST(list_max([len(list_filter(bg, x -> x = g)) for g in list_distinct(bg)]) AS DOUBLE) / len(bg) END AS top_bigram_frac,
           |  CASE WHEN length(text) = 0 THEN CAST(0.0 AS DOUBLE)
           |       ELSE CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text) END AS alpha_ratio
           |FROM b)
           |SELECT doc_id, n_tokens, dup_token_frac, top_bigram_frac, alpha_ratio FROM m
           |WHERE n_tokens BETWEEN 20 AND 1000 AND dup_token_frac <= 0.6
           |  AND top_bigram_frac <= 0.5 AND alpha_ratio >= 0.5
           |ORDER BY doc_id""".stripMargin,

      // The filter-ensemble replay: all three chains (pinned-classifier
      // dot product, bigram-LM nll, heuristic metrics), joined on doc_id;
      // flags in a subquery so `kept` is a plain conjunction. Shared
      // verbatim by the streamed serving form.
      "q_quality_ensemble" -> ensembleOracleSql,
      "q_quality_ensemble_stream" -> ensembleOracleSql,

      "q_corpus_stats" ->
        s"""WITH toks AS (SELECT doc_id, text, ${tokensSql("text")} AS tk FROM documents),
           |basic AS (SELECT count(*) AS n_docs, CAST(sum(len(tk)) AS BIGINT) AS total_tokens,
           |                 CAST(sum(length(text)) AS BIGINT) AS total_chars FROM toks),
           |vocab AS (SELECT count(DISTINCT tok) AS distinct_tokens
           |          FROM (SELECT unnest(tk) AS tok FROM toks))
           |SELECT n_docs, total_tokens, total_chars, distinct_tokens,
           |       round(CAST(total_tokens AS DOUBLE) / n_docs, 4) AS avg_doc_tokens
           |FROM basic, vocab""".stripMargin,

      "q_embed_project" -> {
        // 16×64 deterministic sign matrix, hoisted into a one-row CTE (see
        // signsCte note); per-component fold order matches the JVM kernel.
        val m = graft.operators.Similarity.signMatrix(16, 64)
        val lit16 = m.map(_.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")).mkString("[", ",", "]")
        s"""WITH signs16 AS (SELECT $lit16 AS sg),
           |v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings)
           |SELECT vec_id, CAST(j AS BIGINT) AS dim_idx,
           |  list_reduce([ve[d+1] * sg[j+1][d+1] for d in range(0, 64)], (x, y) -> x + y) AS proj_value
           |FROM v, signs16, range(0, 16) t(j) ORDER BY vec_id, dim_idx""".stripMargin
      },

      // Same symmetric-int8 derivation: scale = 127/max|x|, q = floor(x·scale
      // + 0.5) — explicit floor rounding on both engines (round()'s
      // negative-half semantics differ; floor's don't).
      "q_embed_quantize" ->
        s"""WITH m AS (SELECT vec_id, embedding,
           |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
           |  FROM embeddings),
           |s AS (SELECT vec_id, embedding,
           |    CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END AS scale FROM m),
           |q AS (SELECT vec_id, scale,
           |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)) AS qs
           |  FROM s)
           |SELECT vec_id, round(scale, 6) AS scale,
           |  CAST(list_sum(qs) AS BIGINT) AS q_sum,
           |  CAST(list_sum(list_transform(qs, v -> abs(v))) AS BIGINT) AS q_l1
           |FROM q ORDER BY vec_id""".stripMargin,

      // Replicates Multimodal.stubDecode: stableHash of the base64 payload
      // → (64 + h%1024, 64 + (h/1024)%1024, 1 + h%4); empty → zeros.
      "q_multimodal_meta" ->
        s"""WITH b AS (SELECT doc_id, encode(text) AS bin FROM documents),
           |hv AS (SELECT doc_id, octet_length(bin) AS nb, ${hashSql("to_base64(bin)")} AS h FROM b)
           |SELECT doc_id,
           |  CAST(CASE WHEN nb = 0 THEN 0 ELSE 64 + h % 1024 END AS BIGINT) AS w,
           |  CAST(CASE WHEN nb = 0 THEN 0 ELSE 64 + (h // 1024) % 1024 END AS BIGINT) AS h,
           |  CAST(CASE WHEN nb = 0 THEN 0 ELSE 1 + h % 4 END AS BIGINT) AS c,
           |  CAST(nb AS BIGINT) AS n_bytes
           |FROM hv ORDER BY doc_id""".stripMargin,

      // The PNG round trip's oracle is pure arithmetic: the gate encodes
      // dimensions and pixels as stableHash functions of doc_id, and a
      // REAL codec decode must hand exactly those numbers back.
      "q_multimodal_image" -> {
        val h0 = hashSql("('png' || doc_id)")
        s"""WITH hv AS (SELECT doc_id, $h0 AS h0 FROM documents)
           |SELECT doc_id,
           |  CAST(1 + h0 % 16 AS BIGINT) AS w,
           |  CAST(1 + (h0 // 16) % 16 AS BIGINT) AS h,
           |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS BIGINT) AS c,
           |  CAST(h0 % 256 AS BIGINT) AS px00
           |FROM hv ORDER BY doc_id""".stripMargin
      },

      "q_multimodal_video" -> {
        val h0 = hashSql("('mp4' || doc_id)")
        s"""WITH hv AS (SELECT doc_id, $h0 AS h0 FROM documents)
           |SELECT doc_id,
           |  CAST(1000 * (1 + h0 % 5) AS BIGINT) AS timescale,
           |  CAST(1 + (h0 // 8) % 100000 AS BIGINT) AS duration,
           |  CAST(16 * (1 + h0 % 64) AS BIGINT) AS w,
           |  CAST(16 * (1 + (h0 // 64) % 64) AS BIGINT) AS h
           |FROM hv ORDER BY doc_id""".stripMargin
      },

      "q_multimodal_audio" -> {
        val h0 = hashSql("('wav' || doc_id)")
        s"""WITH hv AS (SELECT doc_id, $h0 AS h0 FROM documents)
           |SELECT doc_id,
           |  CAST(8000 * (1 + h0 % 3) AS BIGINT) AS rate,
           |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS BIGINT) AS ch,
           |  CAST(1 + (h0 // 16) % 64 AS BIGINT) AS frames,
           |  CAST(h0 % 65536 AS BIGINT) - 32768 AS s00
           |FROM hv ORDER BY doc_id""".stripMargin
      },

      // The AVI demux round trip's oracle is pure arithmetic: the gate
      // assembles Motion-PNG AVIs whose frame count, geometry, and pixels
      // are stableHash functions of doc_id, and the REAL demux + PNG
      // decode must hand exactly those numbers back for every sampled
      // frame (x = y = band = 0 ⇒ sample00 = (h0 + 97·frame) % 256).
      "q_multimodal_frames" -> {
        val h0 = hashSql("('avi' || doc_id)")
        s"""WITH hv AS (SELECT doc_id, $h0 AS h0 FROM documents),
           |f AS (SELECT doc_id, h0, unnest(range(0, CAST(2 + h0 % 6 AS BIGINT))) AS idx FROM hv)
           |SELECT doc_id, CAST(idx AS BIGINT) AS frame_idx,
           |  CAST(1 + h0 % 16 AS BIGINT) AS w,
           |  CAST(1 + (h0 // 16) % 16 AS BIGINT) AS h,
           |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS BIGINT) AS c,
           |  CAST((h0 + 97 * idx) % 256 AS BIGINT) AS sample00
           |FROM f WHERE idx % 2 = 0
           |ORDER BY doc_id, frame_idx""".stripMargin
      },

      // The MP4 twin of the AVI oracle — identical arithmetic, "mp4f"
      // salt: the sample-table demux + PNG decode must reproduce the
      // muxed geometry and pixels exactly.
      "q_multimodal_mp4_frames" -> {
        val h0 = hashSql("('mp4f' || doc_id)")
        s"""WITH hv AS (SELECT doc_id, $h0 AS h0 FROM documents),
           |f AS (SELECT doc_id, h0, unnest(range(0, CAST(2 + h0 % 6 AS BIGINT))) AS idx FROM hv)
           |SELECT doc_id, CAST(idx AS BIGINT) AS frame_idx,
           |  CAST(1 + h0 % 16 AS BIGINT) AS w,
           |  CAST(1 + (h0 // 16) % 16 AS BIGINT) AS h,
           |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS BIGINT) AS c,
           |  CAST((h0 + 97 * idx) % 256 AS BIGINT) AS sample00
           |FROM f WHERE idx % 2 = 0
           |ORDER BY doc_id, frame_idx""".stripMargin
      },

      // WebDataset tar extraction: the image inside each sample is the
      // fingerprint fixture's textured PNG (salt "png"/"px"), so its
      // dHash replays through the same sampled-grid arithmetic; caption
      // and meta are exact string digests of the source document.
      "q_multimodal_tar_extract" ->
        s"""WITH $dhashCtes
           |SELECT d.doc_id, b.dh AS dh, md5(d.text) AS caption_md5,
           |  '{"id":' || d.doc_id || ',"len":' || length(d.text) || '}' AS meta
           |FROM documents d JOIN bits b ON d.doc_id = b.doc_id
           |ORDER BY d.doc_id""".stripMargin,

      // Streamed ingest of the same shard files: micro-batch-invariant
      // sample content → the extract replay verbatim.
      "q_multimodal_tar_stream" ->
        s"""WITH $dhashCtes
           |SELECT d.doc_id, b.dh AS dh, md5(d.text) AS caption_md5,
           |  '{"id":' || d.doc_id || ',"len":' || length(d.text) || '}' AS meta
           |FROM documents d JOIN bits b ON d.doc_id = b.doc_id
           |ORDER BY d.doc_id""".stripMargin,

      // Gzip round trip: identical digests through deflate + inflate.
      "q_multimodal_tar_gzip" ->
        s"""WITH $dhashCtes
           |SELECT d.doc_id, b.dh AS dh, md5(d.text) AS caption_md5,
           |  '{"id":' || d.doc_id || ',"len":' || length(d.text) || '}' AS meta
           |FROM documents d JOIN bits b ON d.doc_id = b.doc_id
           |ORDER BY d.doc_id""".stripMargin,

      // Export round trip: same digests as the extract gate — what goes
      // to disk as real tar files must come back identical.
      "q_multimodal_tar_export" ->
        s"""WITH $dhashCtes
           |SELECT d.doc_id, b.dh AS dh, md5(d.text) AS caption_md5,
           |  '{"id":' || d.doc_id || ',"len":' || length(d.text) || '}' AS meta
           |FROM documents d JOIN bits b ON d.doc_id = b.doc_id
           |ORDER BY d.doc_id""".stripMargin,

      // Shard entry census: 3 entries per document, png name chain in key
      // order, txt payload bytes = caption byte lengths (pure-ASCII
      // corpus: length == octet_length, asserted by the chunker oracle).
      "q_multimodal_tar_entries" ->
        """SELECT doc_id // 16 AS shard_id,
          |  CAST(3 * count(*) AS BIGINT) AS n_entries,
          |  md5(string_agg(printf('%010d.png', doc_id), ',' ORDER BY doc_id)) AS png_names_md5,
          |  CAST(sum(length(text)) AS BIGINT) AS txt_bytes
          |FROM documents GROUP BY 1 ORDER BY shard_id""".stripMargin,

      // The JPEG sibling — "mp4j" salt, always grayscale (c = 1), flat
      // frames so sample00 is the frame's single value even through the
      // lossy codec (exact at max quality for DC-only blocks).
      "q_multimodal_mp4_jpeg" -> {
        val h0 = hashSql("('mp4j' || doc_id)")
        s"""WITH hv AS (SELECT doc_id, $h0 AS h0 FROM documents),
           |f AS (SELECT doc_id, h0, unnest(range(0, CAST(2 + h0 % 6 AS BIGINT))) AS idx FROM hv)
           |SELECT doc_id, CAST(idx AS BIGINT) AS frame_idx,
           |  CAST(1 + h0 % 16 AS BIGINT) AS w,
           |  CAST(1 + (h0 // 16) % 16 AS BIGINT) AS h,
           |  CAST(1 AS BIGINT) AS c,
           |  CAST((h0 + 97 * idx) % 256 AS BIGINT) AS sample00
           |FROM f WHERE idx % 2 = 0
           |ORDER BY doc_id, frame_idx""".stripMargin
      },

      // DuckDB can't slice BLOBs; the fixture corpus is pure ASCII
      // (octet_length(encode(text)) == length(text) verified at every SF),
      // so char-slice the VARCHAR then encode — byte-identical frames,
      // compared by md5 hex (driver compare needs scalar columns).
      "q_multimodal_chunks" ->
        s"""WITH i AS (SELECT doc_id, text,
           |      unnest(range(0, (length(text) + 31) // 32)) AS idx FROM documents)
           |SELECT doc_id, CAST(idx AS BIGINT) AS frame_idx,
           |       md5(substr(text, CAST(idx * 32 + 1 AS BIGINT), 32)) AS frame_md5
           |FROM i WHERE idx % 2 = 0
           |ORDER BY doc_id, frame_idx""".stripMargin
      // q_knn_lsh: rows-only (approximate by design).
    )
  }
}

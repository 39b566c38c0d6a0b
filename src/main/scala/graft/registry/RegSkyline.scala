package graft.registry

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
import graft.dedup.{Clusters, Decontaminate, Dedup, MinHashLsh, SimHash, SubstrDedup}
import graft.io.Gsod
import graft.multimodal.{ImageDedup, Multimodal}
import graft.operators.{AsofJoin, BloomJoin, Funnel, RangeJoin, Salting, Sampling, Scd2}
import graft.pipeline.TrainingPipeline
import graft.sources.BucketedTables
import graft.sim.{AnnLsh, IvfFlat, IvfPq, KMeans, ProductQuantizer, VectorSim}
import graft.skyline.{Max, Min, ReverseSkyline, SkyDim, SkyMr, SkylineOp, SkylineSpec}
import graft.stats.{DistinctSketch, QuantileSketch, RangeStats}
import graft.text.{Bm25, Bpe, InvertedIndex, LmScore, Pii, QualityFilters, TextFunctions}
import graft.{SparkEntry, Tables}
import graft.SparkEntry._

/** Skyline slice of the [[SparkEntry]] query/oracle registry. Split from
  * the former single 15k-line entry file so scalac parallelizes across
  * domains and no single Map literal dominates compile time or method
  * size. Entry names, bodies, and oracle SQL are the driver contract,
  * byte-for-byte as they were in SparkEntry; shared fixtures and
  * oracle CTE builders stay on [[SparkEntry]] (private[graft]). */
private[graft] object RegSkyline {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_range_stats" -> { (s, dir) =>
      RangeStats.stats(
        Tables.load(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    },


    // Sentinel→NULL missing-value semantics (reference Range.java:20,
    // Map.java:15-26): treat discount 0.0 as "missing".
    "q_missing_stats" -> { (s, dir) =>
      RangeStats.stats(
        Tables.load(s, dir, "lineitem"),
        Seq("l_quantity", "l_discount"),
        sentinels = Map("l_discount" -> 0.0))
    },


    // Flagship skyline (GSKY two-phase), scoped to one returnflag so the
    // DuckDB NOT-EXISTS oracle stays cheap at sf0.01.
    // The select fixes the result's columns (the oracle's). Catalyst
    // prunes through the skyline node (SkylineColumnPruning), so the
    // scan reads only these 5 columns either way.
    "q_skyline_lineitem" -> { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_shipdate")
      SkylineOp.skyline(li, lineitemSpec)
        .orderBy("l_orderkey", "l_linenumber")
    },


    // INCREMENTAL SKYLINE MAINTENANCE — the engine's core operator
    // made append-friendly: for insert-only batches,
    // Sky(D ∪ B) = Sky(Sky(D) ∪ B), so a maintained skyline absorbs a
    // delta by running the operator over (current skyline ∪ batch) —
    // per-batch cost ∝ |Sky| + |B|, the corpus is NEVER rescanned
    // (the q_incr_agg/q_incr_join discipline applied to dominance).
    // The oracle is the FULL recompute over base ∪ delta — passing
    // hash-equality IS the equivalence proof.
    "q_skyline_incr" -> { (s, dir) =>
      val r = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_extendedprice",
          "l_discount", "l_shipdate")
      val base = r.filter(col("l_orderkey") % 10 =!= 0)
      val delta = r.filter(col("l_orderkey") % 10 === 0)
      val maintained = SkylineOp.skyline(base, lineitemSpec)
      SkylineOp.skyline(maintained.unionByName(delta), lineitemSpec)
        .orderBy("l_orderkey", "l_linenumber")
    },


    // Same skyline semantics through the quadtree-partitioned SKY-MR
    // plan (parallel final merge) — scoped to returnflag 'A' so it
    // exercises a different slice than q_skyline_lineitem.
    "q_skyline_skymr" -> { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem").filter(col("l_returnflag") === "A")
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_shipdate")
      SkyMr.skyline(li, lineitemSpec, maxp = 64, maxDepth = 6, sampleSize = 5000)
        .orderBy("l_orderkey", "l_linenumber")
    },


    // The reference's actual flagship workload shape: a 9-dimensional
    // GSOD skyline (Skyline.java:25-26,369: DIM=9 → 2^9=512-way quadtree
    // fanout, maxp=20) — lineitem shaped into 9 non-null GSOD dims in
    // the parsed-GSOD schema, then SKY-MR with reference parameters.
    // Exercises d=9 cell routing, region dominance algebra, and
    // replication at 512 fanout. Dims are small integer-valued doubles,
    // chosen so the fixed-width 1-decimal GSOD rendering is lossless
    // (floor, not round, for stp — Spark rounds HALF_UP, DuckDB
    // HALF_EVEN, so exact .5 ties would diverge); the text round trip
    // itself now lives in q_gsod_roundtrip + GsodSpec, not here (see
    // the fusion note below).
    //
    // Cost note (sf0.1, local[32], tools/Gsod9Probe; the box has ±3×
    // IO noise, numbers from interleaved A/B): ~9-15 s, of which the io
    // round trip is ~0.9 s — the rest is the intrinsically large d=9
    // skyline (~10% of input survives). This is the workload SkyMr
    // exists for: the one-task-merge skyline takes ~2× longer, deeper
    // trees invert the win (more cells → quadratically more mayDominate pairs +
    // replication fanout at d=9), and spreading the input hurts (the
    // phase-1 combiner reduces better on bigger partitions); one
    // 512-way split over the arriving partitioning is the sweet spot.
    "q_skyline_gsod9" -> { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val parsed = li.select(
        pmod(col("l_orderkey"), lit(1000000)).cast("int").as("stn"),
        (year(col("l_shipdate")) * 10000 + month(col("l_shipdate")) * 100 +
          dayofmonth(col("l_shipdate"))).as("date"),
        round(col("l_quantity")).cast("double").as("temp"),
        round(col("l_discount") * 100).cast("double").as("dewp"),
        round(col("l_tax") * 100).cast("double").as("slp"),
        pmod(col("l_partkey"), lit(97)).cast("double").as("max_temp"),
        floor(col("l_extendedprice") / 1000).cast("double").as("stp"),
        pmod(col("l_suppkey"), lit(53)).cast("double").as("wdsp"),
        col("l_linenumber").cast("double").as("mxspd"),
        pmod(col("l_orderkey"), lit(89)).cast("double").as("gust"),
        pmod(dayofyear(col("l_shipdate")), lit(250)).cast("double").as("min_temp"))
      // Round-9 directive: the format→parse text round trip (render 11
      // columns to fixed-width GSOD lines, substring-parse them back)
      // is FUSED OUT of the hot query — all dims are integer-valued
      // doubles, so the 1-decimal rendering is the identity and the
      // directly-shaped columns are bit-equal to
      // parseLines(formatLines(shaped)) (pinned by GsodSpec's
      // fused-shaping fidelity spec; q_gsod_roundtrip still exercises
      // the full text path). That removes two string passes over the
      // hottest query's every row; the oracle replays the same
      // arithmetic it always did.
      // sampleFilterK=64: broadcast the 64 strongest sample-skyline
      // points as a phase-1 row pre-filter — interleaved A/B at sf0.1
      // (tools/Gsod9Probe, both slot orders) measured 4.4s vs 5.4s
      // without; larger K loses the gain to per-row filter cost.
      // cellPrune: drop whole cells whose lower corner the FULL sample
      // skyline dominates, before the phase-1 shuffle. Round-7 A/B
      // (24 interleaved reps, 2 JVMs): min 4.11s on vs 4.17s off, warm
      // medians ~4.4 vs ~4.8 — inside the box's IO noise band, never a
      // regression; kept because the cost is driver-side only and the
      // drop precedes the shuffle (the 1000-executor lever).
      // Round-8 bench-context audit (tools/Gsod9Probe, 3 interleaved
      // reps): FULL pipeline (scan→format→parse→SkyMr, the bench
      // shape) min 5.47s; maxDepth=5 min 5.48s — a wash, so the tree
      // stays at depth 4; compute-only 4.44s. The bench's 8.2s is this
      // 5.5s plus neighbor-IO/cache pressure from the surrounding 80
      // queries (the documented ±3× noise), not a plan property.
      SkyMr.skyline(parsed, Gsod.spec, maxp = 20, maxDepth = 4, sampleSize = 5000,
        sampleFilterK = 64, cellPrune = true)
        .orderBy("stn", "date", "temp", "dewp", "slp", "max_temp", "stp",
          "wdsp", "mxspd", "gust", "min_temp")
    },


    // 2-D skyline on orders: cheapest AND most recent. Early
    // projection for scan pruning (see q_skyline_lineitem).
    "q_skyline_orders" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
      SkylineOp.skyline(o, SkylineSpec(Seq(
        SkyDim("o_totalprice", Min), SkyDim("o_orderdate", Max))))
        .orderBy("o_orderkey")
    },


    // q_skyline_orders' dims, one skyline per priority: the grouped
    // skyline (SkylineExec with the priority as its group key — phase 1
    // per (partition × priority), phase 2 merges each priority's
    // candidates against that priority's probes).
    "q_skyline_agg" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "o_orderdate")
      SkylineOp.grouped(o,
        SkylineSpec(Seq(SkyDim("o_totalprice", Min), SkyDim("o_orderdate", Max))),
        Seq("o_orderpriority"))
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy("o_orderpriority", "o_orderkey")
    },


    // Skycube: skylines of ALL 7 subspaces of (price MIN, discount
    // MAX, quantity MIN) in one operator — one scan, per-partition
    // multi-subspace GSKY buffers, one survivors-only shuffle keyed by
    // subspace (NOT 7 jobs; see Skycube.scala). The subspace label
    // tells a user which dims drove each winner.
    "q_skycube" -> { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_linenumber") === 1)
        .select("l_orderkey", "l_extendedprice", "l_discount", "l_quantity")
      graft.skyline.Skycube.skycube(li, SkylineSpec(Seq(
        SkyDim("l_extendedprice", Min),
        SkyDim("l_discount", Max),
        SkyDim("l_quantity", Min))))
        .orderBy("subspace", "l_orderkey")
    },


    // The SAME skycube through the SQL surface: SKYCUBE OF parsed by
    // the session-extensions parser into SkycubePlan → SkycubeExec
    // (the one-scan multi-buffer physical plan) — a user types one
    // clause and gets all 7 subspace skylines labeled. Shares
    // q_skycube's oracle slice; the two paths must agree.
    "q_skycube_sql" -> { (s, dir) =>
      Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      graft.sql.SkylineSql.sql(s,
        "SELECT l_orderkey, l_extendedprice, l_discount, l_quantity " +
          "FROM lineitem_v WHERE l_returnflag = 'R' AND l_linenumber = 1 " +
          "SKYCUBE OF l_extendedprice MIN, l_discount MAX, l_quantity MIN")
        .orderBy("subspace", "l_orderkey")
    },


    // SKYLINE FREQUENCY (Chan et al., "On High Dimensional Skylines",
    // EDBT'06): per point, in how many of the 2^d−1 subspaces it is a
    // skyline point — the robustness ranking of skycube winners (a
    // point strong in many subspaces beats a full-space-only winner).
    // Derived from the one-scan skycube by a keyed count.
    "q_sky_freq" -> { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_linenumber") === 1)
        .select("l_orderkey", "l_extendedprice", "l_discount", "l_quantity")
      graft.skyline.Skycube.skycube(li, SkylineSpec(Seq(
        SkyDim("l_extendedprice", Min),
        SkyDim("l_discount", Max),
        SkyDim("l_quantity", Min))))
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_subspaces"))
        .orderBy(col("n_subspaces").desc, col("l_orderkey"))
        .limit(20)
    },


    // Per-(event_type, day) skyline: highest-value, earliest events —
    // the grouped skyline (SkylineExec keyed by (event_type, day): one
    // sorted local pass per partition, one survivors-only shuffle; see
    // SkylineOp.grouped).
    "q_skyline_events" -> { (s, dir) =>
      val e = Tables.loadEvents(s, dir)
        .select("event_id", "event_type", "value", "ts")
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      SkylineOp.grouped(e,
        SkylineSpec(Seq(SkyDim("value", Max), SkyDim("ts", Min))),
        Seq("event_type", "day"))
        .select("event_type", "day", "event_id", "value")
        .orderBy("event_type", "day", "event_id")
    },


    // The windowed-streaming mirror: SkylineOp.grouped over tumbling
    // `window(ts, '1 day')` — exactly what StreamingSkyline computes
    // incrementally per group (the foreachBatch windowed variant named
    // in its scaladoc). StreamingSkylineSpec's batch-replay test is the
    // streaming↔batch bridge; this entry anchors the batch half to the
    // DuckDB oracle.
    "q_skyline_stream_window" -> { (s, dir) =>
      // ACTUAL Structured Streaming execution, not a batch mirror: the
      // events parquet is read through readStream, folded by the
      // flatMapGroupsWithState running skyline (StreamingSkyline
      // .attach, keyed by event_type × day window), written to a
      // memory sink, and the COLLECTED SINK is what faces the oracle.
      // Trigger.AvailableNow may split the files across micro-batches,
      // so each group's skyline can be emitted several times into the
      // update-mode sink; attach's VERSION column (incremented per
      // re-emission) lets the collection keep exactly each group's
      // LATEST version — batch-id-aware collection instead of the
      // deprecated Trigger.Once single-batch guarantee.
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val sch = s.read.parquet(s"$dir/events.parquet").schema
      // The file streaming source requires a DIRECTORY; the fixture is
      // a single file. Stage it behind a symlink in a temp dir (a real
      // deployment points at the landing directory itself).
      val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_src")
      java.nio.file.Files.createSymbolicLink(
        srcDir.resolve("events.parquet"),
        java.nio.file.Paths.get(s"$dir/events.parquet"))
      val stream = s.readStream.schema(sch).parquet(srcDir.toString)
        .transform(Tables.normalizeEventTs)
        .select("event_id", "event_type", "value", "ts")
        .withColumn("win", window(col("ts"), "1 day"))
        .withColumn("win_start", date_format(col("win.start"), "yyyy-MM-dd"))
        .drop("win")
        .withColumn("gkey", concat_ws("|", col("event_type"), col("win_start")))
      val sky = graft.streaming.StreamingSkyline.attach(stream,
        SkylineSpec(Seq(SkyDim("value", Max), SkyDim("ts", Min))), "gkey",
        versionCol = Some("__ver"))
      val qname = "graft_stream_sky_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_stream_ckpt").toString
      val query = sky.writeStream.format("memory").queryName(qname)
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      query.awaitTermination()
      // Keep each group's LATEST emitted version (stale earlier
      // versions from prior micro-batches drop out).
      val wv = Window.partitionBy(col("gkey"))
      s.table(qname)
        .withColumn("__mx", max(col("__ver")).over(wv))
        .filter(col("__ver") === col("__mx"))
        .select("event_type", "win_start", "event_id", "value")
        .orderBy("event_type", "win_start", "event_id")
    },


    // REVERSE skyline (Dellis-Seeger VLDB'07, the other half of the
    // SKY-MR paper's problem family; the reference never implemented
    // it): which parts find the hypothetical product q = (950.5, 25.5)
    // Pareto-attractive — no other part sits coordinate-wise strictly
    // between them and q. q must sit INSIDE the data region (prices
    // span 900–1000): an out-of-range q gives every point a huge
    // radius on that dim and the dense grid shadows everything to an
    // empty result. Off-grid halves avoid exact-coincidence
    // degeneracies. DISTRIBUTED plan (graft.skyline.ReverseSkyline
    // .reverseSkylineGrid): broadcast sample-witness prefilter, then
    // the grid-bucketed box equi-join + exact DominatesExpr verify —
    // never the O(n²) BroadcastNestedLoopJoin (the BNL form remains
    // the spec-level cross-check; ReverseSkylineSpec pins equivalence
    // and asserts the plan is NL-free).
    "q_skyline_reverse" -> { (s, dir) =>
      ReverseSkyline.reverseSkylineGrid(
        Tables.load(s, dir, "part").select("p_partkey", "p_retailprice", "p_size"),
        Seq("p_retailprice", "p_size"), "p_partkey", Array(950.5, 25.5))
        .orderBy("p_partkey")
    },


    // BICHROMATIC reverse skyline — the Dellis-Seeger motivating
    // scenario proper: probe = "customer preference points"
    // (Brand#23 parts), candidates = the existing product catalog
    // (Brand#13 parts); which customers would find the hypothetical
    // product q = (950.5, 25.5) Pareto-attractive given what is
    // already on offer. Same distributed plan as q_skyline_reverse
    // (witness prefilter + grid box join), candidate side drawn from
    // the second table.
    "q_skyline_reverse_bi" -> { (s, dir) =>
      val part = Tables.load(s, dir, "part")
      ReverseSkyline.reverseSkylineBichromaticGrid(
        part.filter(col("p_brand") === "Brand#23")
          .select("p_partkey", "p_retailprice", "p_size"),
        part.filter(col("p_brand") === "Brand#13")
          .select("p_retailprice", "p_size"),
        Seq("p_retailprice", "p_size"), "p_partkey", Array(950.5, 25.5))
        .orderBy("p_partkey")
    },


    // The SKYLINE OF SQL surface end-to-end: custom parser clause →
    // SkylinePlan logical node → SkylineExec physical operator
    // (graft.plans, via the spark.experimental hooks since the driver
    // owns this session).
    "q_skyline_sql" -> { (s, dir) =>
      Tables.load(s, dir, "part").createOrReplaceTempView("part_v")
      graft.sql.SkylineSql.sql(s,
        "SELECT p_partkey, p_retailprice, p_size FROM part_v " +
          "SKYLINE OF p_retailprice MIN, p_size MAX")
        .orderBy("p_partkey")
    },


    // Per-dimension missing-value SENTINEL semantics inside a skyline
    // (reference Range.java:20 / Map.java:15-17): discount 0.0 is
    // declared "missing", so the 484 zero-discount rows in this slice
    // are excluded — the strict no-missing policy the reference's Job 1
    // enforces, here exercised through SkylineSpec's sentinel→NULL
    // normalization rather than a pre-filter.
    "q_skyline_sentinel" -> { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_linestatus") === "F")
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_shipdate")
      SkylineOp.skyline(li, SkylineSpec(Seq(
        SkyDim("l_extendedprice", Min),
        SkyDim("l_discount", Max, missing = Some(0.0)),
        SkyDim("l_shipdate", Min))))
        .orderBy("l_orderkey", "l_linenumber")
    },


    // k-SKYBAND (Papadias et al. TODS'05 §3): every point dominated by
    // fewer than k=3 others, with its exact dominator count. Plan:
    // per-partition SFS-sorted skyband prune (no shuffle) → broadcast
    // the small candidate set → ONE streamed dominance-count pass over
    // the input, map-side partial-aggregated to |candidates| rows.
    "q_skyband" -> { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_shipdate")
      graft.skyline.Skyband.kSkyband(li, lineitemSpec, k = 3)
        .orderBy("l_orderkey", "l_linenumber")
    },


    // TOP-K DOMINATING (Papadias et al. TODS'05 §5): the k=20 points
    // with the largest dominance score. Candidates provably live inside
    // the k-skyband (a dominator strictly out-scores its victims), so
    // the scoring pass streams the input once against the broadcast
    // skyband; ties at the cut break deterministically on the PK.
    "q_top_dominating" -> { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "A" && col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_shipdate")
      graft.skyline.Skyband.topKDominating(li, lineitemSpec, k = 20,
        tieBreak = Seq("l_orderkey", "l_linenumber"))
        .orderBy(col("score").desc, col("l_orderkey"), col("l_linenumber"))
    },


    // k-DOMINANT SKYLINE (Chan et al. SIGMOD'06): points no other point
    // beats in ≥ k of the 4 dims (strictly in at least one of them).
    // k-dominance is non-transitive, so the plan prunes with the PLAIN
    // skyline (a provable superset of the answer) and then verifies the
    // broadcast candidates against one streamed pass of the input. Both
    // k=4 (≡ the plain 4-dim skyline — the degeneration Chan et al.
    // prove) and the strictly-smaller k=3 relaxation are emitted,
    // tagged by `k` (k=2 is already empty on this data — the paper's
    // own motivation for not pushing k too low: k-dominance cycles
    // eliminate everything).
    "q_kdominant" -> { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "N" && col("l_quantity") > 48)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount",
          "l_shipdate", "l_tax")
      val spec4 = SkylineSpec(lineitemSpec.dims :+ SkyDim("l_tax", Min))
      // both k arms from ONE candidate pass + ONE verification scan
      // (r16 — Skyband.kDominantSkylines; rows identical to the two
      // independent calls this replaces)
      graft.skyline.Skyband.kDominantSkylines(li, spec4, Seq(4, 3))
        .orderBy("k", "l_orderkey", "l_linenumber")
    },


    // The declarative anti-join skyline (p ∈ sky ⟺ no q dominates p,
    // planned as a broadcast nested-loop anti-join) — the O(n²)
    // cross-check form, registered on a deliberately small slice; the
    // imperative paths (skyline/SkyMr/agg) are the scale plans.
    "q_skyline_anti" -> { (s, dir) =>
      val p = Tables.load(s, dir, "part").filter(col("p_brand") === "Brand#13")
        .select("p_partkey", "p_retailprice", "p_size")
      SkylineOp.antiJoin(p, SkylineSpec(Seq(
        SkyDim("p_retailprice", Min), SkyDim("p_size", Max))))
        .orderBy("p_partkey")
    },


    // ---- GSOD fixed-width ingest (reference source format) ------------

    // Round-trip proof of the fixed-width parser: shape lineitem into
    // GSOD-layout lines (3 real dims, 6 at their missing sentinel),
    // parse them back with graft.io.Gsod, aggregate Range-style stats.
    // The oracle computes the same stats from lineitem directly.
    // The reference's record-key rendering (Point.java:45-47,
    // "%d_%d_%d" over stn + date div/mod — SURVEY §2 row 26): shape a
    // deterministic (stn, YYYYMMDD) pair from lineitem, render, count
    // per key. Unpadded exactly like the reference's %d.
    "q_gsod_pk" -> { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(100)) === 0)
        .select(
          Gsod.formatPk(
            pmod(col("l_orderkey"), lit(1000000)).cast("int"),
            year(col("l_shipdate")) * 10000 + month(col("l_shipdate")) * 100 +
              dayofmonth(col("l_shipdate"))).as("pk"))
        .groupBy("pk").agg(count(lit(1)).as("n"))
        .orderBy("pk")
    },


    "q_gsod_roundtrip" -> { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val shaped = li.select(
        pmod(col("l_orderkey"), lit(1000000)).cast("int").as("stn"),
        (year(col("l_shipdate")) * 10000 + month(col("l_shipdate")) * 100 +
          dayofmonth(col("l_shipdate"))).as("date"),
        round(col("l_quantity")).as("temp"),
        round(col("l_discount") * 100).as("dewp"),
        round(col("l_tax") * 100).as("slp"),
        lit(null).cast("double").as("max_temp"),
        lit(null).cast("double").as("stp"),
        lit(null).cast("double").as("wdsp"),
        lit(null).cast("double").as("mxspd"),
        lit(null).cast("double").as("gust"),
        lit(null).cast("double").as("min_temp"))
      // JVM kernels both ways: formatLines' mapPartitions output is an
      // opaque computed column (Catalyst can't collapse the formatter
      // into per-parsed-column re-eval), and parseLines slices each
      // line once instead of 22 substring expressions. Equivalence to
      // the Catalyst format/parse forms is pinned in GsodSpec.
      RangeStats.stats(Gsod.parseLines(Gsod.formatLines(shaped)),
        Gsod.valueFields.map(_.name))
    },
  )

  val oracles: Map[String, String] = Map(

    "q_range_stats" ->
      """SELECT count(*) AS c,
        |  count(CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |             AND l_discount IS NOT NULL AND l_tax IS NOT NULL THEN 1 END) AS c_no_missing,
        |  count(l_quantity) AS c_l_quantity, min(l_quantity) AS min_l_quantity, max(l_quantity) AS max_l_quantity,
        |  count(l_extendedprice) AS c_l_extendedprice, min(l_extendedprice) AS min_l_extendedprice, max(l_extendedprice) AS max_l_extendedprice,
        |  count(l_discount) AS c_l_discount, min(l_discount) AS min_l_discount, max(l_discount) AS max_l_discount,
        |  count(l_tax) AS c_l_tax, min(l_tax) AS min_l_tax, max(l_tax) AS max_l_tax
        |FROM lineitem""".stripMargin,


    "q_missing_stats" ->
      """SELECT count(*) AS c,
        |  count(CASE WHEN l_quantity IS NOT NULL AND l_discount <> 0.0 THEN 1 END) AS c_no_missing,
        |  count(l_quantity) AS c_l_quantity, min(l_quantity) AS min_l_quantity, max(l_quantity) AS max_l_quantity,
        |  count(CASE WHEN l_discount <> 0.0 THEN 1 END) AS c_l_discount,
        |  min(CASE WHEN l_discount <> 0.0 THEN l_discount END) AS min_l_discount,
        |  max(CASE WHEN l_discount <> 0.0 THEN l_discount END) AS max_l_discount
        |FROM lineitem""".stripMargin,


    "q_skyline_lineitem" ->
      """SELECT p.l_orderkey, p.l_linenumber, p.l_extendedprice, p.l_discount, p.l_shipdate
        |FROM lineitem p
        |WHERE p.l_returnflag = 'R'
        |  AND p.l_extendedprice IS NOT NULL AND p.l_discount IS NOT NULL AND p.l_shipdate IS NOT NULL
        |  AND NOT EXISTS (
        |  SELECT 1 FROM lineitem q WHERE q.l_returnflag = 'R'
        |    AND q.l_extendedprice IS NOT NULL AND q.l_discount IS NOT NULL AND q.l_shipdate IS NOT NULL
        |    AND q.l_extendedprice <= p.l_extendedprice
        |    AND q.l_discount >= p.l_discount
        |    AND q.l_shipdate <= p.l_shipdate
        |    AND (q.l_extendedprice < p.l_extendedprice
        |      OR q.l_discount > p.l_discount
        |      OR q.l_shipdate < p.l_shipdate))
        |ORDER BY p.l_orderkey, p.l_linenumber""".stripMargin,


    // FULL recompute over base ∪ delta (= the whole 'R' slice): hash
    // equality with the incremental result proves
    // Sky(Sky(D) ∪ B) ≡ Sky(D ∪ B).
    "q_skyline_incr" ->
      """SELECT p.l_orderkey, p.l_linenumber, p.l_extendedprice, p.l_discount, p.l_shipdate
        |FROM lineitem p
        |WHERE p.l_returnflag = 'R'
        |  AND p.l_extendedprice IS NOT NULL AND p.l_discount IS NOT NULL AND p.l_shipdate IS NOT NULL
        |  AND NOT EXISTS (
        |  SELECT 1 FROM lineitem q WHERE q.l_returnflag = 'R'
        |    AND q.l_extendedprice IS NOT NULL AND q.l_discount IS NOT NULL AND q.l_shipdate IS NOT NULL
        |    AND q.l_extendedprice <= p.l_extendedprice
        |    AND q.l_discount >= p.l_discount
        |    AND q.l_shipdate <= p.l_shipdate
        |    AND (q.l_extendedprice < p.l_extendedprice
        |      OR q.l_discount > p.l_discount
        |      OR q.l_shipdate < p.l_shipdate))
        |ORDER BY p.l_orderkey, p.l_linenumber""".stripMargin,


    "q_skyline_skymr" ->
      """SELECT p.l_orderkey, p.l_linenumber, p.l_extendedprice, p.l_discount, p.l_shipdate
        |FROM lineitem p
        |WHERE p.l_returnflag = 'A'
        |  AND p.l_extendedprice IS NOT NULL AND p.l_discount IS NOT NULL AND p.l_shipdate IS NOT NULL
        |  AND NOT EXISTS (
        |  SELECT 1 FROM lineitem q WHERE q.l_returnflag = 'A'
        |    AND q.l_extendedprice IS NOT NULL AND q.l_discount IS NOT NULL AND q.l_shipdate IS NOT NULL
        |    AND q.l_extendedprice <= p.l_extendedprice
        |    AND q.l_discount >= p.l_discount
        |    AND q.l_shipdate <= p.l_shipdate
        |    AND (q.l_extendedprice < p.l_extendedprice
        |      OR q.l_discount > p.l_discount
        |      OR q.l_shipdate < p.l_shipdate))
        |ORDER BY p.l_orderkey, p.l_linenumber""".stripMargin,


    // Same shaping as the Spark side (the fixed-width round trip is
    // lossless for these integer-valued dims); 9-way NOT-EXISTS
    // dominance with the GSOD directions (temp/dewp/slp/max_temp Max,
    // stp/wdsp/mxspd/gust/min_temp Min).
    "q_skyline_gsod9" ->
      """WITH shaped AS (
        |  SELECT CAST(l_orderkey % 1000000 AS INT) AS stn,
        |    CAST(year(l_shipdate)*10000 + month(l_shipdate)*100 + dayofmonth(l_shipdate) AS INT) AS "date",
        |    CAST(round(l_quantity) AS DOUBLE) AS temp,
        |    CAST(round(l_discount*100) AS DOUBLE) AS dewp,
        |    CAST(round(l_tax*100) AS DOUBLE) AS slp,
        |    CAST(l_partkey % 97 AS DOUBLE) AS max_temp,
        |    CAST(floor(l_extendedprice/1000) AS DOUBLE) AS stp,
        |    CAST(l_suppkey % 53 AS DOUBLE) AS wdsp,
        |    CAST(l_linenumber AS DOUBLE) AS mxspd,
        |    CAST(l_orderkey % 89 AS DOUBLE) AS gust,
        |    CAST(dayofyear(l_shipdate) % 250 AS DOUBLE) AS min_temp
        |  FROM lineitem WHERE l_returnflag = 'R')
        |SELECT * FROM shaped p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM shaped q
        |  WHERE q.temp >= p.temp AND q.dewp >= p.dewp AND q.slp >= p.slp
        |    AND q.max_temp >= p.max_temp AND q.stp <= p.stp AND q.wdsp <= p.wdsp
        |    AND q.mxspd <= p.mxspd AND q.gust <= p.gust AND q.min_temp <= p.min_temp
        |    AND (q.temp > p.temp OR q.dewp > p.dewp OR q.slp > p.slp
        |      OR q.max_temp > p.max_temp OR q.stp < p.stp OR q.wdsp < p.wdsp
        |      OR q.mxspd < p.mxspd OR q.gust < p.gust OR q.min_temp < p.min_temp))
        |ORDER BY stn, "date", temp, dewp, slp, max_temp, stp, wdsp, mxspd, gust, min_temp""".stripMargin,


    "q_skyline_orders" ->
      """SELECT p.o_orderkey, p.o_totalprice, p.o_orderdate
        |FROM orders p
        |WHERE p.o_totalprice IS NOT NULL AND p.o_orderdate IS NOT NULL
        |  AND NOT EXISTS (
        |  SELECT 1 FROM orders q
        |  WHERE q.o_totalprice IS NOT NULL AND q.o_orderdate IS NOT NULL
        |    AND q.o_totalprice <= p.o_totalprice AND q.o_orderdate >= p.o_orderdate
        |    AND (q.o_totalprice < p.o_totalprice OR q.o_orderdate > p.o_orderdate))
        |ORDER BY p.o_orderkey""".stripMargin,


    // Per-priority skyline (the grouped Catalyst-aggregate path).
    "q_skyline_agg" ->
      """SELECT p.o_orderpriority, p.o_orderkey, p.o_totalprice, p.o_orderdate
        |FROM orders p
        |WHERE p.o_totalprice IS NOT NULL AND p.o_orderdate IS NOT NULL
        |  AND NOT EXISTS (
        |  SELECT 1 FROM orders q
        |  WHERE q.o_orderpriority = p.o_orderpriority
        |    AND q.o_totalprice IS NOT NULL AND q.o_orderdate IS NOT NULL
        |    AND q.o_totalprice <= p.o_totalprice AND q.o_orderdate >= p.o_orderdate
        |    AND (q.o_totalprice < p.o_totalprice OR q.o_orderdate > p.o_orderdate))
        |ORDER BY p.o_orderpriority, p.o_orderkey""".stripMargin,


    "q_skycube" -> skycubeOracle,


    // The SQL-surface path must produce the identical cube.
    "q_skycube_sql" -> skycubeOracle,


    // Subspace-membership count over the same 7-way skyline union.
    "q_sky_freq" ->
      s"""SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_subspaces
         |FROM ($skycubeOracle) sc
         |GROUP BY 1 ORDER BY n_subspaces DESC, l_orderkey LIMIT 20""".stripMargin,


    // Per-(event_type, day) Pareto front: max value, earliest ts.
    // Timestamps have no sub-microsecond component, so DuckDB's nanos
    // and Spark's micros order identically.
    "q_skyline_events" ->
      """WITH e AS (
        |  SELECT event_id, event_type, value, ts,
        |    strftime(ts, '%Y-%m-%d') AS day
        |  FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value) AND ts IS NOT NULL)
        |SELECT p.event_type, p.day, p.event_id, p.value
        |FROM e p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM e q
        |  WHERE q.event_type = p.event_type AND q.day = p.day
        |    AND q.value >= p.value AND q.ts <= p.ts
        |    AND (q.value > p.value OR q.ts < p.ts))
        |ORDER BY p.event_type, p.day, p.event_id""".stripMargin,


    // Tumbling 1-day windows are UTC-midnight aligned, so the window
    // start renders as the event's own day.
    "q_skyline_stream_window" ->
      """WITH e AS (
        |  SELECT event_id, event_type, value, ts,
        |    strftime(date_trunc('day', ts), '%Y-%m-%d') AS win_start
        |  FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value) AND ts IS NOT NULL)
        |SELECT p.event_type, p.win_start, p.event_id, p.value
        |FROM e p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM e q
        |  WHERE q.event_type = p.event_type AND q.win_start = p.win_start
        |    AND q.value >= p.value AND q.ts <= p.ts
        |    AND (q.value > p.value OR q.ts < p.ts))
        |ORDER BY p.event_type, p.win_start, p.event_id""".stripMargin,


    // |c − p| must not dominate |q − p| for any other part c: the same
    // abs-diff doubles on both engines, so comparisons agree exactly.
    "q_skyline_reverse" ->
      """SELECT p.p_partkey, p.p_retailprice, p.p_size
        |FROM part p
        |WHERE p.p_retailprice IS NOT NULL AND p.p_size IS NOT NULL
        |  AND NOT EXISTS (
        |  SELECT 1 FROM part c
        |  WHERE c.p_partkey <> p.p_partkey
        |    AND c.p_retailprice IS NOT NULL AND c.p_size IS NOT NULL
        |    AND abs(c.p_retailprice - p.p_retailprice) <= abs(950.5 - p.p_retailprice)
        |    AND abs(CAST(c.p_size AS DOUBLE) - p.p_size) <= abs(25.5 - p.p_size)
        |    AND (abs(c.p_retailprice - p.p_retailprice) < abs(950.5 - p.p_retailprice)
        |      OR abs(CAST(c.p_size AS DOUBLE) - p.p_size) < abs(25.5 - p.p_size)))
        |ORDER BY p.p_partkey""".stripMargin,


    // Bichromatic: the NOT EXISTS witness ranges over the OTHER
    // brand's slice only.
    "q_skyline_reverse_bi" ->
      """SELECT p.p_partkey, p.p_retailprice, p.p_size
        |FROM part p
        |WHERE p.p_brand = 'Brand#23'
        |  AND p.p_retailprice IS NOT NULL AND p.p_size IS NOT NULL
        |  AND NOT EXISTS (
        |  SELECT 1 FROM part c
        |  WHERE c.p_brand = 'Brand#13'
        |    AND c.p_retailprice IS NOT NULL AND c.p_size IS NOT NULL
        |    AND abs(c.p_retailprice - p.p_retailprice) <= abs(950.5 - p.p_retailprice)
        |    AND abs(CAST(c.p_size AS DOUBLE) - p.p_size) <= abs(25.5 - p.p_size)
        |    AND (abs(c.p_retailprice - p.p_retailprice) < abs(950.5 - p.p_retailprice)
        |      OR abs(CAST(c.p_size AS DOUBLE) - p.p_size) < abs(25.5 - p.p_size)))
        |ORDER BY p.p_partkey""".stripMargin,


    "q_skyline_sql" ->
      """SELECT p.p_partkey, p.p_retailprice, p.p_size
        |FROM part p
        |WHERE p.p_retailprice IS NOT NULL AND p.p_size IS NOT NULL
        |  AND NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE q.p_retailprice IS NOT NULL AND q.p_size IS NOT NULL
        |    AND q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY p.p_partkey""".stripMargin,


    // Sentinel → NULL → excluded: the oracle spells the sentinel out as
    // a predicate on both the outer and inner scans.
    "q_skyline_sentinel" ->
      """WITH e AS (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, l_shipdate
        |  FROM lineitem
        |  WHERE l_returnflag = 'R' AND l_linestatus = 'F'
        |    AND l_extendedprice IS NOT NULL
        |    AND l_discount IS NOT NULL AND l_discount <> 0.0
        |    AND l_shipdate IS NOT NULL)
        |SELECT p.l_orderkey, p.l_linenumber, p.l_extendedprice, p.l_discount, p.l_shipdate
        |FROM e p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM e q
        |  WHERE q.l_extendedprice <= p.l_extendedprice
        |    AND q.l_discount >= p.l_discount
        |    AND q.l_shipdate <= p.l_shipdate
        |    AND (q.l_extendedprice < p.l_extendedprice
        |      OR q.l_discount > p.l_discount
        |      OR q.l_shipdate < p.l_shipdate))
        |ORDER BY p.l_orderkey, p.l_linenumber""".stripMargin,


    "q_skyband" ->
      """WITH pts AS (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, l_shipdate
        |  FROM lineitem
        |  WHERE l_returnflag = 'R' AND l_quantity > 45
        |    AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL
        |    AND l_shipdate IS NOT NULL),
        |cnt AS (
        |  SELECT p.l_orderkey, p.l_linenumber, p.l_extendedprice, p.l_discount, p.l_shipdate,
        |    (SELECT count(*) FROM pts q
        |      WHERE q.l_extendedprice <= p.l_extendedprice
        |        AND q.l_discount >= p.l_discount
        |        AND q.l_shipdate <= p.l_shipdate
        |        AND (q.l_extendedprice < p.l_extendedprice
        |          OR q.l_discount > p.l_discount
        |          OR q.l_shipdate < p.l_shipdate)) AS dom_count
        |  FROM pts p)
        |SELECT * FROM cnt WHERE dom_count < 3
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,


    "q_top_dominating" ->
      """WITH pts AS (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, l_shipdate
        |  FROM lineitem
        |  WHERE l_returnflag = 'A' AND l_quantity > 45
        |    AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL
        |    AND l_shipdate IS NOT NULL),
        |sc AS (
        |  SELECT p.l_orderkey, p.l_linenumber, p.l_extendedprice, p.l_discount, p.l_shipdate,
        |    (SELECT count(*) FROM pts q
        |      WHERE p.l_extendedprice <= q.l_extendedprice
        |        AND p.l_discount >= q.l_discount
        |        AND p.l_shipdate <= q.l_shipdate
        |        AND (p.l_extendedprice < q.l_extendedprice
        |          OR p.l_discount > q.l_discount
        |          OR p.l_shipdate < q.l_shipdate)) AS score
        |  FROM pts p)
        |SELECT * FROM sc
        |ORDER BY score DESC, l_orderkey, l_linenumber
        |LIMIT 20""".stripMargin,


    "q_kdominant" ->
      """WITH pts AS (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, l_shipdate, l_tax
        |  FROM lineitem
        |  WHERE l_returnflag = 'N' AND l_quantity > 48
        |    AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL
        |    AND l_shipdate IS NOT NULL AND l_tax IS NOT NULL),
        |kd AS (
        |  SELECT k.k, p.l_orderkey, p.l_linenumber, p.l_extendedprice, p.l_discount,
        |         p.l_shipdate, p.l_tax
        |  FROM (SELECT 4 AS k UNION ALL SELECT 3) k
        |  CROSS JOIN pts p
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM pts q
        |    WHERE (CASE WHEN q.l_extendedprice <= p.l_extendedprice THEN 1 ELSE 0 END
        |         + CASE WHEN q.l_discount >= p.l_discount THEN 1 ELSE 0 END
        |         + CASE WHEN q.l_shipdate <= p.l_shipdate THEN 1 ELSE 0 END
        |         + CASE WHEN q.l_tax <= p.l_tax THEN 1 ELSE 0 END) >= k.k
        |      AND (CASE WHEN q.l_extendedprice < p.l_extendedprice THEN 1 ELSE 0 END
        |         + CASE WHEN q.l_discount > p.l_discount THEN 1 ELSE 0 END
        |         + CASE WHEN q.l_shipdate < p.l_shipdate THEN 1 ELSE 0 END
        |         + CASE WHEN q.l_tax < p.l_tax THEN 1 ELSE 0 END) >= 1))
        |SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, l_shipdate, l_tax, k
        |FROM kd
        |ORDER BY k, l_orderkey, l_linenumber""".stripMargin,


    "q_skyline_anti" ->
      """WITH pp AS (SELECT * FROM part WHERE p_brand = 'Brand#13')
        |SELECT p.p_partkey, p.p_retailprice, p.p_size
        |FROM pp p
        |WHERE p.p_retailprice IS NOT NULL AND p.p_size IS NOT NULL
        |  AND NOT EXISTS (
        |  SELECT 1 FROM pp q
        |  WHERE q.p_retailprice IS NOT NULL AND q.p_size IS NOT NULL
        |    AND q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY p.p_partkey""".stripMargin,


    // Stats that survive the fixed-width round trip: same shaping of
    // lineitem the Spark side formats+parses (3 real dims, 6 missing).
    // %d_%d_%d with integer div/mod — DuckDB // and % on the same
    // shaped (stn, YYYYMMDD) pair; both sides unpadded.
    "q_gsod_pk" ->
      """WITH shaped AS (
        |  SELECT CAST(l_orderkey % 1000000 AS INT) AS stn,
        |    year(l_shipdate) * 10000 + month(l_shipdate) * 100 + day(l_shipdate) AS d
        |  FROM lineitem WHERE l_orderkey % 100 = 0)
        |SELECT CAST(stn AS VARCHAR) || '_' || CAST(d // 10000 AS VARCHAR) || '_' || CAST(d % 10000 AS VARCHAR) AS pk,
        |  count(*) AS n
        |FROM shaped GROUP BY 1 ORDER BY 1""".stripMargin,


    "q_gsod_roundtrip" ->
      """WITH shaped AS (
        |  SELECT CAST(round(l_quantity) AS DOUBLE) AS temp,
        |    CAST(round(l_discount * 100) AS DOUBLE) AS dewp,
        |    CAST(round(l_tax * 100) AS DOUBLE) AS slp
        |  FROM lineitem)
        |SELECT count(*) AS c, CAST(0 AS BIGINT) AS c_no_missing,
        |  count(temp) AS c_temp, min(temp) AS min_temp, max(temp) AS max_temp,
        |  count(dewp) AS c_dewp, min(dewp) AS min_dewp, max(dewp) AS max_dewp,
        |  count(slp) AS c_slp, min(slp) AS min_slp, max(slp) AS max_slp,
        |  CAST(0 AS BIGINT) AS c_max_temp, CAST(NULL AS DOUBLE) AS min_max_temp, CAST(NULL AS DOUBLE) AS max_max_temp,
        |  CAST(0 AS BIGINT) AS c_stp, CAST(NULL AS DOUBLE) AS min_stp, CAST(NULL AS DOUBLE) AS max_stp,
        |  CAST(0 AS BIGINT) AS c_wdsp, CAST(NULL AS DOUBLE) AS min_wdsp, CAST(NULL AS DOUBLE) AS max_wdsp,
        |  CAST(0 AS BIGINT) AS c_mxspd, CAST(NULL AS DOUBLE) AS min_mxspd, CAST(NULL AS DOUBLE) AS max_mxspd,
        |  CAST(0 AS BIGINT) AS c_gust, CAST(NULL AS DOUBLE) AS min_gust, CAST(NULL AS DOUBLE) AS max_gust,
        |  CAST(0 AS BIGINT) AS c_min_temp, CAST(NULL AS DOUBLE) AS min_min_temp, CAST(NULL AS DOUBLE) AS max_min_temp
        |FROM shaped""".stripMargin,
  )
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Predicates
import graft.model.{Requirement, Rule, RuleType}
import graft.operators.{Profile, Referential, Similarity, Uniqueness, ValidationPass}
import graft.sources.SeqTableGen

/** Physical-plan shape assertions: the plans we designed for 100 TB are
  * the plans Catalyst actually produces. Each test pins a property that
  * a regression would silently destroy (a surprise shuffle, a lost
  * broadcast, a dead pushdown). */
class PlanSpec extends SparkSpec {

  val sf = "/root/testdata/sf0.001"
  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("violation extraction is a single scan with zero exchanges") {
    val df = SeqTableGen.generate(spark, 1000)
    val vio = ValidationPass.seqViolations(
      df, ValidationPass.seqConstraints(SeqTableGen.Vocab, SeqTableGen.Sources))
    val p = plan(vio)
    assert(!p.contains("Exchange"), s"violation pass must not shuffle:\n$p")
  }

  test("filter pushdown reaches the parquet scan") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val q = orders.where(col("o_orderstatus") === "F").select("o_orderkey")
    val p = plan(q)
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]"),
      s"missing pushdown:\n$p")
    // column pruning: scan schema must not include untouched columns
    assert(p.contains("ReadSchema") && !p.contains("o_totalprice"),
      s"column pruning failed:\n$p")
  }

  test("fused profile is one aggregate pass: partial + final, one scan") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val agg = li.agg(Profile.profileExprs(li, Seq("l_quantity", "l_extendedprice")).head,
      Profile.profileExprs(li, Seq("l_quantity", "l_extendedprice")).tail: _*)
    val p = plan(agg)
    // exactly one scan of the table
    assert("FileScan parquet|Scan parquet".r.findAllIn(p).size === 1, s"multiple scans:\n$p")
    // partial aggregation present (two-level sketch merge)
    assert(p.contains("partial_"), s"no partial aggregation:\n$p")
  }

  test("referential check is a broadcast hash anti-join (fact side never shuffles)") {
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val orphans = Referential.orphans(cust, "c_nationkey", nation, "n_nationkey")
    val p = plan(orphans)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"expected broadcast anti join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact table must not sort-merge:\n$p")
  }

  test("uniqueness aggregate runs map-side partial aggregation") {
    val df = SeqTableGen.generate(spark, 1000)
    val p = plan(Uniqueness.duplicatesSimple(df, "doc_id"))
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"no map-side combine:\n$p")
  }

  test("brute-force top-k is TakeOrderedAndProject, not a global sort") {
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = Array.fill(64)(0.1f)
    val p = plan(Similarity.bruteForceTopK(embs, "vec_id", "embedding", q, 10))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), s"global sort leaked in:\n$p")
  }

  test("enum predicate compiles to a codegen-friendly In/INSET, no UDF") {
    val rule = Rule("orders", "o_orderpriority", RuleType.EnumT, Requirement.Required,
      validation = Seq("1-URGENT", "2-HIGH", "3-MEDIUM"))
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val q = orders.where(Predicates.invalid(rule, col("o_orderpriority")))
    val p = plan(q)
    // "*(n)" prefix marks a WholeStageCodegen stage in toString renderings
    assert(p.contains("*(1) Filter"), s"predicate fell out of codegen:\n$p")
    // and the In-set even pushes down into the parquet scan
    assert(p.contains("PushedFilters: [Not(In(o_orderpriority"), s"In not pushed:\n$p")
    assert(!p.toLowerCase.contains("scalaudf"), s"UDF on the hot path:\n$p")
  }

  test("exact-dedup shuffles on the content hash, never keyed by text") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(Dedup.exactDuplicates(docs, "doc_id", "text"))
    assert(p.contains("hashpartitioning(content_hash"),
      s"shuffle must key on the 8-byte hash:\n$p")
    assert(!p.contains("hashpartitioning(text"), s"text-keyed shuffle:\n$p")
    assert(p.contains("partial_"), s"no map-side combine:\n$p")
  }

  test("dedup-apply is one hash aggregate: no window, no sort, hash-keyed") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(Dedup.dropExactDuplicates(docs, "doc_id", "text"))
    assert(!p.contains("Window"), s"window sort crept back in:\n$p")
    // Catalyst rewrites the hash alias to _groupingexpression; the pinned
    // property is that no exchange is keyed by the text column
    assert(!p.contains("hashpartitioning(text"),
      s"shuffle must key on the content hash, not text:\n$p")
    assert(p.contains("partial_min_by"), s"duplicates must collapse map-side:\n$p")
  }

  test("line-dedup: counting and flagging exchanges never carry line text") {
    import graft.operators.LineDedup
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(LineDedup.removeDuplicateLines(docs, "doc_id", "text", 3))
    assert(!p.contains("hashpartitioning(line"),
      s"a line-text-keyed shuffle crept in:\n$p")
    assert(p.contains("partial_count"),
      s"line counting must combine map-side before the shuffle:\n$p")
    // the only text-carrying exchange is the final id-keyed rebuild join
    val freqPlan = plan(LineDedup.frequentLines(docs, "text", 3))
    assert(freqPlan.contains("hashpartitioning(line_hash") ||
      freqPlan.contains("hashpartitioning(_groupingexpression"),
      s"frequency aggregate must key on the 8-byte hash:\n$freqPlan")
  }

  test("no forced broadcast on the unbounded duplicate-key set") {
    val df = SeqTableGen.generate(spark, 1000)
    val lp = Uniqueness.violations(df, "doc_id").queryExecution.logical.toString
    assert(!lp.toLowerCase.contains("broadcast"),
      s"forced broadcast hint on an unbounded frame:\n$lp")
  }

  test("uniqueness violations: one exchange, keyed on doc_id, no join") {
    val df = SeqTableGen.generate(spark, 1000)
    val v = Uniqueness.violations(df, "doc_id")
    val p = plan(v)
    assert("Exchange".r.findAllIn(p).size === 1, s"expected exactly one exchange:\n$p")
    assert(p.contains("Exchange hashpartitioning(doc_id"), s"exchange must key on doc_id:\n$p")
    assert(!p.contains("Join"), s"uniqueness must not join back to the rows:\n$p")
    val lp = v.queryExecution.logical.toString
    assert(!lp.toLowerCase.contains("broadcast"), s"broadcast hint:\n$lp")
  }

  test("analyze() evaluates TextProfile exactly once per row") {
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val analyzed = TextAnalysis.analyze(docs, "doc_id", "text")
    // CollapseProject must NOT inline the non-cheap profile expression
    // into its 6 consumers (SPARK-36718): the optimized plan carries
    // exactly one graft_text_profile instance
    val optimized = analyzed.queryExecution.optimizedPlan.toString
    val hits = "graft_text_profile".r.findAllIn(optimized).size
    assert(hits === 1, s"TextProfile duplicated $hits times:\n$optimized")
  }

  test("quality filter report: one TextProfile eval, zero exchanges") {
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rep = TextAnalysis.qualityFilterReport(docs, "doc_id", "text")
    val optimized = rep.queryExecution.optimizedPlan.toString
    val hits = "graft_text_profile".r.findAllIn(optimized).size
    assert(hits === 1, s"TextProfile duplicated $hits times:\n$optimized")
    val phys = rep.queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange"), s"quality report shuffled:\n$phys")
  }

  test("main-content extraction stays a projection: zero exchanges, zero joins") {
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = docs.select(col("doc_id"),
      TextAnalysis.mainContent(col("text")).as("main_text"))
    val phys = out.queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange"), s"main-content shuffled:\n$phys")
    // node-level check: the projection legitimately CONTAINS array_join
    // the function, so a substring match on "join" would false-positive
    val joins = out.queryExecution.executedPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"main-content joined:\n$phys")
  }

  test("domain blocklist predicate path stays a scan: zero exchanges, zero joins") {
    import graft.operators.WebFilter
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val withUrl = docs.select(col("doc_id"),
      concat(lit("http://h"), col("doc_id") % 10, lit(".example.com/p")).as("url"))
    val kept = WebFilter.filterBlockedHosts(withUrl, "url", Seq("h3.example.com"))
    val phys = kept.queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange"), s"predicate filter shuffled:\n$phys")
    assert(!phys.toLowerCase.contains("join"), s"predicate filter joined:\n$phys")
  }

  test("decontamination evaluates token grams once per side, never in a filter") {
    import graft.operators.Decontamination
    val seq = SeqTableGen.generate(spark, 1000)
    val bench = seq.limit(50).select(col("tokens"))
    val rep = Decontamination.contaminated(seq, "doc_id", "tokens",
      bench, "tokens", n = 3)
    // explode (non-outer) triggers InferFiltersFromGenerate, whose
    // size(g)>0 filter is pushdown-substituted into a SECOND (and third)
    // evaluation of the gram expression — the operator uses explode_outer
    // precisely to keep ONE evaluation per side
    val optimized = rep.queryExecution.optimizedPlan.toString
    val hits = "graft_token_grams".r.findAllIn(optimized).size
    assert(hits === 2, s"token grams must appear once per side, got $hits:\n$optimized")
    val inFilter = optimized.linesIterator
      .filter(_.trim.startsWith("Filter")).exists(_.contains("graft_token_grams"))
    assert(!inFilter, s"gram expression re-evaluated inside a Filter:\n$optimized")
  }

  test("token-frequency explode collapses map-side before the shuffle") {
    val seq = SeqTableGen.generate(spark, 1000)
    val q = seq.select(explode(col("tokens")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val p = plan(q)
    // plan prints top-down: final agg / exchange / PARTIAL agg / Generate
    // — the partial hash-aggregate between explode and shuffle is what
    // keeps shuffle volume O(partitions × vocab), not O(total tokens)
    val iPartial = p.indexOf("partial_count")
    val iGenerate = p.indexOf("Generate explode")
    assert(iPartial >= 0 && iGenerate >= 0 && iPartial < iGenerate,
      s"expected map-side partial aggregation above the explode:\n$p")
  }

  test("contamination join broadcasts the benchmark side, corpus never shuffles") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bench = docs.where(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("bid"), col("text"))
    val q = graft.operators.Dedup.ngramContamination(
      docs, "doc_id", "text", bench, "bid", "text", n = 5, minHits = 2)
    val p = plan(q)
    assert(p.contains("BroadcastHashJoin"), s"benchmark side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not sort-merge:\n$p")
  }

  test("offender cap: one bounded per-rule aggregate, partial before the exchange, no cache") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val vio = (1L to 500L)
      .map(i => (i, s"R${i % 3}", s"v${i % 97}"))
      .toDF("k", "rule_id", "offending_value")
    val capped = ValidationPass.offenderSummary(vio, "k", 10)
    capped.collect() // finalize AQE stages
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val root = capped.queryExecution.executedPlan
    // map-side partials of the bounded CollectMinK feed the rule_id
    // exchange, so each map task ships ≤ cap values per rule — the
    // distinct-offender frame never flows through one task unbounded
    val partialMinK = helper.collectWithSubqueries(root) {
      case e: ShuffleExchangeExec if e.child.exists {
        case a: ObjectHashAggregateExec => a.aggregateExpressions.exists(ae =>
          ae.mode == Partial && ae.aggregateFunction.isInstanceOf[graft.functions.CollectMinK])
        case _ => false
      } => e
    }
    val p = root.toString
    assert(partialMinK.nonEmpty, s"expected a partial graft_min_k below an exchange:\n$p")
    assert(!p.contains("Window"), s"no window ranking over offenders:\n$p")
    assert(!p.contains("InMemoryRelation") && !p.contains("InMemoryTableScan"),
      s"no cached distinct-offenders frame:\n$p")
  }

  test("sequence packing shuffles only (group, id, cost) — document text never moves") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.operators.Packing.greedyPack(docs, "source", "doc_id", "n_chars", 1000)
    out.collect() // finalize AQE stages
    val exchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(out.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    assert(exchanges.nonEmpty, "packing groups via exactly one shuffle")
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.exists(_.toLowerCase.contains("text")) && names.length <= 6,
        s"exchange must carry only (group, shard, id, cost) + grouping keys, got $names")
    }
  }

  test("chunk dedup: chunk text never enters an exchange; winner is a partial agg") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.operators.LineDedup.dedupChunksAcrossDocs(
      docs.select(col("doc_id"), col("text")), "doc_id", "text", 12)
    out.collect()
    val exchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(out.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    assert(exchanges.nonEmpty)
    // the exploded chunk column must collapse to its hash BEFORE any
    // exchange; the ONE text-carrying exchange is the final rebuild
    // join on the corpus's own id (an enrichment join, not chunk motion)
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.exists(_.contains("__chunk")),
        s"chunk text leaked into an exchange: $names")
    }
    assert(exchanges.count(_.output.exists(_.name == "text")) <= 1,
      "only the rebuild join may carry document text")
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      s"winner selection must be an aggregate, not a window:\n$p")
  }

  test("bm25: zero shuffles, zero joins — tf in the scan, TakeOrdered ranking") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.operators.TextAnalysis.bm25TopK(
      docs.select(col("doc_id"), col("text")), "doc_id", "text",
      terms = Seq("spark", "window", "merge"), k = 20)
    val phys = out.queryExecution.executedPlan.toString
    // corpus stats folded to literals driver-side; per-term tf is a
    // projection over the ONE pinned narrow frame; ranking is per-task
    // top-k + merge, materialized eagerly so the pinned frame releases
    // before return (round-6) — the caller-visible plan is therefore
    // the already-ranked local top-k, trivially shuffle- and join-free
    assert(!phys.contains("ShuffleExchange"), s"bm25 shuffled:\n$phys")
    val joins = out.queryExecution.executedPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"bm25 joined:\n$phys")
    assert(phys.contains("Scan ExistingRDD"),
      s"expected materialized top-k:\n$phys")
    assert(out.count() <= 20, "top-k cap")
  }

  test("duplicated-span shuffles carry only (id, hash) — text never moves") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.operators.Dedup.duplicatedSpanFraction(docs, "doc_id", "text", 5)
    out.collect()
    val exchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(out.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.exists(_.toLowerCase.contains("text")),
        s"span-dup exchange must carry hashes, not text: $names")
    }
    // hot-gram safety (round-3 VERDICT #1): the per-hash count must be a
    // map-side-partial AGGREGATE, never a window — `count(*) OVER
    // (PARTITION BY __h)` serializes a boilerplate gram shared by 10^8
    // docs through one sorted window partition, where the aggregate
    // collapses it to one row per input partition pre-shuffle and the
    // join back is AQE-skew-splittable
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      s"per-hash count must be an aggregate, not a window:\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"expected map-side partial count per gram hash:\n$p")
  }

  test("capPerKey: payload text never enters a shuffle; ranking is narrow-keyed") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("dom", pmod(col("doc_id"), lit(5L)).cast("string"))
    val out = graft.operators.Mixing.capPerKey(docs, "dom", "doc_id", 10)
    out.collect() // finalize AQE stages (threshold side broadcasts)
    val exchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(out.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    // the two-phase rank windows shuffle the narrow (key, id, rank)
    // projection; the over-cap threshold frame broadcasts, so the
    // corpus payload is filtered in place — NO exchange carries text
    assert(exchanges.nonEmpty, "rank windows must shuffle the narrow frame")
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.exists(_.toLowerCase.contains("text")),
        s"cap exchange must carry (key, id, rank) only, got $names")
    }
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"small over-cap threshold side must broadcast:\n$p")
  }

  test("pack-window materialization shuffles array FRAGMENTS, not per-token structs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("tokens"))
      .withColumn("sz", size(col("tokens")))
    val out = graft.operators.Packing
      .materializeWindows(docs, "doc_id", "tokens", "sz", 512L)
    out.collect()
    val exchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(out.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    assert(exchanges.nonEmpty)
    // the reassembly aggregate (whose partial buffers are what the
    // exchange ships, serialized as buf:binary) must be fed token-array
    // FRAGMENTS — the round-3 spelling fed it per-token (gpos, token)
    // structs, paying ~4-6x the minimal shuffle volume
    val partialAggInputs = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(out.queryExecution.executedPlan) {
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
            if a.aggregateExpressions.exists(_.mode.toString.contains("Partial")) =>
          a.child.output.map(at => s"${at.name}:${at.dataType.simpleString}")
      }
    assert(partialAggInputs.exists(_.exists(_.contains("array"))),
      s"pre-shuffle aggregate input carries no token-array fragment: $partialAggInputs")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("__tok"),
      s"per-token struct shuffle is back:\n$plan")
  }

  test("per-group drift histogram aggregates partially before the shuffle") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    // capture the grouped-agg plan (ksByGroup collects; rebuild its frame)
    val grouped = li.groupBy(col("l_returnflag"))
      .agg(graft.functions.HistogramAgg.histogram(col("l_quantity"), 0, 55, 64).as("h"))
    val p = grouped.queryExecution.executedPlan.toString
    assert(p.contains("partial_graft_histogram"),
      s"grouped sketch must combine map-side before the shuffle:\n$p")
  }

  test("range join plans as a hash join, never a nested loop") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val anchors = ev.where(col("event_id") % 97 === 0)
      .select(col("event_id").as("anchor_id"), col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("w_end"))
    val points = ev.select("event_id", "ts", "value")
    // the direct BETWEEN spelling is the 100-TB cliff this operator
    // exists to avoid — Catalyst has no equi-keys to hash on
    val naive = points.join(anchors,
      col("ts") >= col("w_start") && col("ts") <= col("w_end"))
    assert(plan(naive).contains("BroadcastNestedLoopJoin"),
      "fixture no longer demonstrates the nested-loop cliff")
    val bucketed = graft.operators.RangeJoin.pointInInterval(
      points, anchors, "ts", "w_start", "w_end", bucketWidth = 3600L * 1000000L)
    val p = plan(bucketed)
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"range join fell back to a nested loop:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"range join must be an equi-join on the bucket:\n$p")
  }

  test("tf-idf: text never shuffles; tf and df both aggregate map-side") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.operators.TextAnalysis
      .tfIdfTopTerms(docs, "doc_id", "text", k = 3)
    out.collect()
    val exchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(out.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.exists(_.toLowerCase == "text"),
        s"tf-idf exchange must carry (id, word) tuples, not text: $names")
    }
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("partial_count"),
      s"expected map-side partial counts for tf/df:\n$p")
  }

  test("dsir scoring: corpus text never shuffles in hashed mode") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.operators.Curation.dsirLogWeights(
      docs, "doc_id", "text",
      docs.where(col("source").isin("src1", "src2")), "text",
      nBuckets = 4096, hashed = true)
    out.collect()
    val exchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(out.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.exists(_.toLowerCase == "text"),
        s"dsir exchange must carry buckets/weights, not text: $names")
    }
    // the bounded weight table must reach the scoring join as a broadcast
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"hashed-mode weight table must broadcast:\n$p")
  }

  test("quality gate evaluates TextProfile once per row, not once per rule") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val gated = graft.operators.TextAnalysis.applyQualityFilter(docs, "text")
    val p = plan(gated)
    // the HOF-bound spelling: ONE profile eval feeding the lambda, so
    // each plan line mentions graft_text_profile at most once (the
    // FileScan echoes the Filter predicate in its DataFilters metadata
    // — same single eval). The inlined-alias spelling put ~10
    // references in the Filter line, one per rule.
    val perLine = p.split("\n")
      .map(l => "graft_text_profile".r.findAllIn(l).size)
    assert(perLine.exists(_ == 1) && perLine.forall(_ <= 1),
      s"expected exactly one TextProfile eval per plan line:\n$p")
  }

  test("multi-enum + regex predicates stay UDF-free") {
    val multi = Rule("t", "c", RuleType.EnumT, Requirement.Required,
      validation = Seq("a", "b"), allowMultiEnum = true)
    val regex = Rule("t", "c", RuleType.RegexT, Requirement.Required, pattern = "a+")
    import spark.implicits._
    val df = Seq("a;b", "c").toDF("c")
    Seq(multi, regex).foreach { r =>
      val p = plan(df.where(Predicates.invalid(r, col("c"))))
      assert(!p.toLowerCase.contains("scalaudf"), s"UDF found for $r:\n$p")
    }
  }

  test("inverted index: postings cap is an O(k) map-side aggregate, never a sort") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.operators.TextAnalysis.invertedIndex(
      docs.select(col("doc_id"), col("text")), "doc_id", "text", k = 10)
    val p = out.queryExecution.executedPlan.toString
    // the posting cap must come from the bounded CollectMinK buffer with
    // map-side partials — a window row_number would SORT the full
    // (word, doc_id) stream, and collect_set would buffer a stopword's
    // entire posting list in one aggregation state
    assert(p.contains("partial_graft_min_k"),
      s"postings must partial-aggregate map-side:\n$p")
    assert(!p.contains("Window"), s"no window sort over postings:\n$p")
    assert(!p.contains("collect_set"), s"unbounded collect state:\n$p")
    assert(!p.toLowerCase.contains("scalaudf"), s"UDF found:\n$p")
  }

  test("bigram lm: corpus text never enters an exchange; counts combine map-side") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.operators.TextAnalysis.bigramLogProb(
      docs.select(col("doc_id"), col("text")), "doc_id", "text")
    out.collect()
    val exchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(out.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.exists(_.toLowerCase.contains("text")),
        s"bigram exchange must carry word pairs/ids, not text: $names")
    }
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"bigram counts must combine map-side:\n$p")
  }

  test("outlink degrees: page bytes never enter an exchange") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pages = docs.select(col("doc_id").cast("long").as("doc_id"),
      concat(lit("<a href=\"doc://"),
        (col("doc_id") % 100).cast("string"), lit("\">x</a> "),
        col("text")).as("__html"))
    val out = graft.operators.LinkGraph.degrees(
      graft.operators.LinkGraph.extractDocLinks(pages, "doc_id", "__html"))
    out.collect()
    val exchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(out.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.exists(n => n.contains("html") || n.contains("text")),
        s"degree exchange must carry (src, dst, id, counts) only: $names")
    }
  }

  test("volume anomalies: window partitions by group — never SinglePartition") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val out = graft.operators.Drift.volumeAnomalies(ev, "ts", "event_type")
    val p = plan(out)
    assert(p.contains("Window"), s"expected a window:\n$p")
    assert(!p.contains("SinglePartition"),
      s"trailing window must partition by group, not globally sort:\n$p")
    assert(!p.toLowerCase.contains("scalaudf"), s"UDF found:\n$p")
  }

  test("key skew: two-level aggregate, no window, no sort of the key stream") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val out = Profile.keySkew(orders, "o_custkey")
    val p = plan(out)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-key counts must combine map-side:\n$p")
    assert(!p.contains("Window"), s"no window in keySkew:\n$p")
    // the only sort allowed is none: global stats are a fold, and the
    // hot key comes from max_by, not an ordered limit
    assert(!p.contains("TakeOrdered") && !p.contains("Sort "),
      s"keySkew must not sort the key stream:\n$p")
  }

  test("urlFeatures: pure projection — zero shuffles, zero UDFs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = docs.select(col("doc_id"),
      graft.operators.WebFilter.urlFeatures(
        concat(lit("https://h.example.com/a/"), col("doc_id"))).as("f"))
    val p = plan(out)
    assert(!p.contains("Exchange"), s"urlFeatures shuffled:\n$p")
    assert(!p.contains("ScalaUDF"), s"urlFeatures used a UDF:\n$p")
  }

  test("dataCard: one aggregate pass, text never enters an exchange") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = Profile.dataCard(docs, "source", "text", "lang")
    out.collect()
    val exchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(out.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("text"),
        s"dataCard exchange must carry per-source partials, not text: $names")
    }
    val p = plan(out)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"dataCard must combine map-side:\n$p")
  }

  test("vocabOverlap: exchanges carry (source, word) pairs, never text; " +
      "top-k window partitions by source") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.operators.TextAnalysis.vocabOverlap(
      docs, "source", "text", k = 10)
    out.collect()
    val exchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(out.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("text"),
        s"vocabOverlap exchange must carry (source, word), not text: $names")
    }
    val p = plan(out)
    assert(!p.contains("SinglePartition"),
      s"vocabOverlap top-k must partition by source, never globally:\n$p")
  }

  test("robotsVerdict: rules broadcast, winner is an aggregate — no window, " +
      "corpus never shuffles for the match") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        concat(lit("http://h.example.com/p/"), col("doc_id")).as("url"))
    val rules = Seq(("h.example.com", "/p/1", false))
      .toDF("host", "prefix", "allow")
    val out = graft.operators.WebFilter.robotsVerdict(
      docs, "doc_id", "url", rules)
    val p = plan(out)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"robots rules must broadcast:\n$p")
    assert(!p.contains("Window"), s"robots winner must be an aggregate:\n$p")
    assert(p.contains("partial_max") || p.contains("partial max"),
      s"winner must combine map-side:\n$p")
  }

  test("round-5 continuation ops: no exchange ever carries document text") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val outs: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "trigramBackoff" -> graft.operators.TextAnalysis.trigramBackoff(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1), "doc_id", "text"),
      "ngramNovelty" -> graft.operators.TextAnalysis.ngramNovelty(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1), "doc_id", "text"),
      "dedupSavings" -> graft.operators.Dedup.dedupSavings(
        docs, "doc_id", "text", "source", "n_chars"),
      "templateHeaders" -> graft.operators.TextAnalysis.templateHeaders(
        docs, "source", "text"),
      "contentLabelConflicts" -> graft.operators.Dedup
        .contentLabelConflicts(docs, "text", "lang"))
    outs.foreach { case (name, out) =>
      out.collect()
      val exchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        .collectWithSubqueries(out.queryExecution.executedPlan) {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
      exchanges.foreach { e =>
        val names = e.output.map(_.name)
        assert(!names.contains("text"),
          s"$name shuffled document text: $names")
      }
    }
  }

  test("pmiPairs: exchanges carry (id, word) tokens, never document text") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.operators.TextAnalysis.pmiPairs(
      docs, "doc_id", "text", vocabSize = 10, minPairCount = 1, k = 5)
    out.collect()
    val exchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(out.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("text"),
        s"pmi exchange must carry tokens, not documents: $names")
    }
  }

  test("cdc chunking stays a projection in both boundary modes: zero exchanges") {
    import graft.operators.CdcChunking
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    for (maskBits <- Seq(0, 4)) { // md5 oracle mode / rolling scale mode
      val out = CdcChunking.chunks(docs, "doc_id", "text",
        window = 8, maskBits = maskBits)
      val phys = out.queryExecution.executedPlan.toString
      assert(!phys.contains("Exchange"), s"cdc chunking shuffled:\n$phys")
    }
  }

  test("json extraction stays a projection: zero exchanges, no UDF") {
    import graft.sources.JsonIngest
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val withJson = docs.select(col("doc_id"),
      concat(lit("{\"a\":"), col("doc_id"), lit("}")).as("js"))
    val out = JsonIngest.extractFields(withJson, "js",
      Seq(("a", "$.a", "bigint")), probePath = "$.a")
    val phys = out.queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange"), s"json extraction shuffled:\n$phys")
    assert(!phys.contains("ScalaUDF"), s"json extraction used a UDF:\n$phys")
  }

  test("oov scoring is a pure projection: zero exchanges, one WordIds eval") {
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = TextAnalysis.oovStats(docs.select(col("doc_id"), col("text")),
      "doc_id", "text", vocab = Seq("the", "and", "of"))
    val phys = out.queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange"), s"oov scoring shuffled:\n$phys")
    val optimized = out.queryExecution.optimizedPlan.toString
    val hits = "graft_word_ids".r.findAllIn(optimized).size
    assert(hits === 1, s"WordIds duplicated $hits times:\n$optimized")
  }

  test("rank ensemble: signal windows share one group exchange, never SinglePartition") {
    import graft.operators.Mixing
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source"), col("n_chars"),
        length(col("text")).cast("long").as("n2"))
    val out = Mixing.rankEnsemble(docs, "source", Seq("n_chars", "n2"))
    out.collect()
    val exchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(out.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    assert(exchanges.length === 1,
      s"both windows must reuse ONE source-keyed exchange, got ${exchanges.length}")
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("SinglePartition"), s"global window leaked in:\n$p")
  }

  test("bpe encode: words and text never enter an exchange — counts do") {
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val out = TextAnalysis.bpeTokenCounts(docs, "doc_id", "text",
      Seq(("t", "h"), ("e", "r")))
    out.collect()
    val exchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(out.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    assert(exchanges.nonEmpty, "the count aggregate shuffles on id")
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.exists(n => n.contains("text") || n.contains("__w")),
        s"bpe encode must shuffle (id, count) only, got $names")
    }
  }

  test("token-health aggregates: token arrays never enter an exchange") {
    import graft.operators.TokenHealth
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val seqs = docs.select(
      col("doc_id"),
      transform(sequence(lit(0), (col("doc_id") % 7 + 4).cast("int")),
        i => ((col("doc_id") * 31 + i * 17) % 1000).cast("int")).as("tokens"),
      col("source"))
    val frames = Seq(
      "framing" -> TokenHealth.framingSummary(seqs, "tokens", "source", 1, 2),
      "vocab" -> TokenHealth.vocabCoverage(seqs, "tokens", "source", 1000),
      "dupGram" -> TokenHealth.dupGramMass(seqs, "tokens", n = 3),
      "positions" -> TokenHealth.positionStats(seqs, "tokens", k = 4))
    frames.foreach { case (name, out) =>
      out.collect()
      val exchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        .collectWithSubqueries(out.queryExecution.executedPlan) {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
      assert(exchanges.nonEmpty, s"$name: expected a narrow aggregate shuffle")
      exchanges.foreach { e =>
        assert(!e.output.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
          s"$name exchange must carry scalar (key, count) rows only: " +
            e.output.map(a => s"${a.name}:${a.dataType.simpleString}"))
      }
      assert(!plan(out).toLowerCase.contains("scalaudf"),
        s"$name: UDF found in plan")
    }
  }

  test("splitLeakage: document text never enters an exchange — hashes do") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("split",
        when(col("doc_id") % 2 === 0, "train").otherwise("test"))
    val out = Dedup.splitLeakage(docs, "text", "split")
    out.collect()
    val exchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(out.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("text"),
        s"leakage exchanges must carry (split, hash, counts) only: $names")
    }
  }

  test("anchor aggregation: page bytes never enter an exchange") {
    import graft.operators.LinkGraph
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pages = docs.select(col("doc_id").cast("long").as("doc_id"),
      concat(lit("<a href=\"doc://"),
        (col("doc_id") % 100).cast("string"), lit("\">ref</a> "),
        col("text")).as("__html"))
    val out = LinkGraph.anchorSummary(
      LinkGraph.extractAnchors(pages, "doc_id", "__html"))
    out.collect()
    val exchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(out.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.exists(n => n.contains("html") || n.contains("text")),
        s"anchor exchanges must carry (src, dst, anchor, counts) only: $names")
    }
  }

  private def shuffles(df: DataFrame) = {
    df.collect()
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(df.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
  }

  test("groupAwareSplit is a pure projection: zero exchanges, no UDF") {
    import graft.operators.Mixing
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = Mixing.groupAwareSplit(docs, "text")
    val p = plan(out)
    assert(!p.contains("Exchange"), s"split must not shuffle:\n$p")
    assert(!p.contains("ScalaUDF"), s"no UDFs on the split path:\n$p")
  }

  test("prefixBoilerplate: full text never enters an exchange — " +
    "bounded prefixes and counts do") {
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = TextAnalysis.prefixBoilerplate(docs, "source", "text",
      k = 32, minShare = 0.5)
    val exchanges = shuffles(out)
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("text"),
        s"boilerplate exchanges must carry (source, prefix, counts): $names")
    }
  }

  test("bootstrapMeans: ONE aggregate exchange to B groups — values " +
    "pre-reduced map-side, never raw rows") {
    import graft.operators.Profile
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = Profile.bootstrapMeans(docs, "doc_id", "n_chars",
      nBoot = 8, hashKey = false)
    val exchanges = shuffles(out)
    // one hash exchange for the groupBy(b) (plus AQE may add a sort for
    // the orderBy); the aggregate exchange must carry only b + partials
    val agg = exchanges.filter(_.output.exists(_.name == "b"))
    assert(agg.nonEmpty, "expected the groupBy(b) exchange")
    agg.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.exists(n => n.contains("__x") || n.contains("__id")),
        s"bootstrap exchange must carry partial aggregates, not rows: $names")
    }
  }

  test("simplifiedSilhouette: embeddings never enter an exchange") {
    import graft.operators.Similarity
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = Array.tabulate(4)(c =>
      (c, Array.tabulate(64)(i => if (i % 4 == c) 1f else 0f)))
    val out = Similarity.simplifiedSilhouette(embs, "vec_id", "embedding",
      cents)
    val exchanges = shuffles(out)
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("embedding"),
        s"silhouette exchanges must carry (cluster_id, partials): $names")
    }
  }

  test("session-12 text ops: exchanges never carry document text") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val outs: Seq[(String, DataFrame)] = Seq(
      "rakeKeyphrases" -> graft.operators.TextAnalysis.rakeKeyphrases(
        docs, "text", graft.operators.TextAnalysis.StopwordProfiles("en"),
        maxLen = 4, k = 10),
      "crossSourceXent" -> graft.operators.TextAnalysis.crossSourceXent(
        docs, "source", "text"),
      "sourceExclusivity" -> graft.operators.TextAnalysis
        .sourceExclusivity(docs, "source", "text"),
      "nucleusVocab" -> graft.operators.TextAnalysis.nucleusVocab(
        docs, "text"))
    outs.foreach { case (name, out) =>
      out.collect()
      val exchanges = new org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanHelper {}
        .collectWithSubqueries(out.queryExecution.executedPlan) {
          case e: org.apache.spark.sql.execution.exchange
            .ShuffleExchangeExec => e
        }
      exchanges.foreach { e =>
        val names = e.output.map(_.name)
        assert(!names.contains("text"),
          s"$name shuffled document text: $names")
      }
    }
  }

  test("hbos: payload keys never shuffle — occupancy partials do") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val out = Profile.hbos(li, Seq("l_orderkey", "l_linenumber"),
      Seq("l_quantity", "l_extendedprice", "l_discount"), bins = 10, k = 20)
    out.collect()
    val exchanges = new org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(out.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange
          .ShuffleExchangeExec => e
      }
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("l_orderkey"),
        s"hbos shuffled the corpus keys: $names")
    }
    val p = plan(out)
    assert(p.contains("TakeOrdered"), s"hbos must TakeOrdered, not sort:\n$p")
  }

  test("paretoFrontier: corpus rows never shuffle, window on distinct-x only") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("n_chars"),
        (col("n_chars") % 97).cast("double").as("score"))
    val out = graft.operators.Selection.paretoFrontier(
      docs, "doc_id", "n_chars", "score")
    out.collect()
    val exchanges = new org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(out.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange
          .ShuffleExchangeExec => e
      }
    // the final result orderBy is a RANGE exchange of the (small)
    // frontier itself — legitimate; what must never happen is a HASH
    // exchange of corpus rows (a join that stopped broadcasting)
    exchanges.filter(_.outputPartitioning.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
      .foreach { e =>
        val names = e.output.map(_.name)
        assert(!names.contains("doc_id"),
          s"frontier hash-shuffled corpus rows: $names")
      }
  }

  test("rollingDistinct / groupCentroids: raw keys and vectors never shuffle") {
    val events = spark.read.parquet(s"$sf/events.parquet")
    val rd = Profile.rollingDistinct(events, "ts", "user_id", 7)
    rd.collect()
    val helper = new org.apache.spark.sql.execution.adaptive
      .AdaptiveSparkPlanHelper {}
    helper.collectWithSubqueries(rd.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange
        .ShuffleExchangeExec => e
    }.foreach { e =>
      assert(!e.output.map(_.name).contains("user_id"),
        s"rollingDistinct shuffled raw user ids: ${e.output.map(_.name)}")
    }
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val gc = graft.operators.EmbeddingStats.groupCentroids(
      emb, "label", "embedding")
    gc.collect()
    helper.collectWithSubqueries(gc.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange
        .ShuffleExchangeExec => e
    }.foreach { e =>
      assert(!e.output.map(_.name).contains("embedding"),
        s"groupCentroids shuffled whole vectors: ${e.output.map(_.name)}")
    }
  }

  test("storage audits: adjacency via equi-join, never a global-sort window") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val helper = new org.apache.spark.sql.execution.adaptive
      .AdaptiveSparkPlanHelper {}
    for (df <- Seq(
        graft.operators.StorageAudit.encodingAudit(
          docs, "doc_id", Seq("lang", "source")),
        graft.operators.StorageAudit.sortednessAudit(
          docs, "doc_id", "n_chars"))) {
      df.collect()
      val p = df.queryExecution.executedPlan
      // the per-row order relation must come from the id+1 equi-join,
      // never a WindowExec (a global ORDER BY lag() would serialize
      // the whole table through one task); the only SinglePartition
      // exchange allowed is the final one-row summary collapse
      assert(helper.collectWithSubqueries(p) {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty, "adjacency audit planned a window")
      // the only exchanges are the id-keyed join and the final
      // single-row/agg collapse — text never enters any of them
      helper.collectWithSubqueries(p) {
        case e: org.apache.spark.sql.execution.exchange
          .ShuffleExchangeExec => e
      }.foreach { e =>
        assert(!e.output.map(_.name).contains("text"),
          s"storage audit shuffled document text: ${e.output.map(_.name)}")
      }
    }
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GFunctions._
import graft.pipeline._

/** The spatial pipeline as driver-checkable queries: fixture ->
  * Stage004 -> Normalize -> MartH3 -> h3_index/h3_stats -> polygon
  * queries (SURVEY.md §3.1-3.2, §7.2 minimum slice).
  *
  * q60 is string-level and DuckDB-oracle-checked; the H3/geometry
  * results (q61+) have no SQL-expressible oracle (the driver's DuckDB
  * has no spatial/h3 extensions offline) and get rows-only checks —
  * their value-level correctness is covered by the scalatest golden
  * suite (PipelineSpec, H3CoreSpec, GFunctionsSpec).
  */
object GeoQueries {

  private val fm = FieldMapping(Map(
    "source_id" -> "$source_id",
    "klass" -> "$klass_raw",
    "grupp" -> "fixture",
    "typ" -> "synthetic",
    "leverantor" -> "$lev_raw",
    "data_1" -> "$name"))

  /** Battery queries that read each layer (directly or through the
    * shared* accessors) — [[Memos]] releases a layer's persist as soon
    * as no remaining battery query is in its set. A missed name is
    * safe (that query would rebuild the layer), an extra name only
    * delays the release. */
  private val consumersOf: Map[String, Set[String]] = {
    val indexConsumers = Set(
      "q45_stats_mass", "q46_statstop_equiv", "q56_exact_subset",
      "q57_heatmap_mass", "q63_h3_stats", "q64_query_objects",
      "q65_query_stats", "q66_query_heatmap", "q67_query_exact",
      "q69_heatmap_empty", "q77_query_mass", "q101_heatmap_empty_mass",
      "q135_query_table_macro", "q169_hybrid_identity",
      "q229_h3filter_rule", "q232_h3join_rule", "q233_h3join_dwithin",
      "q235_h3filter_dwithin", "q236_h3filter_auto", "q237_h3join_auto",
      "q238_h3filter_coarse", "q239_h3filter_multiparent",
      "q240_h3join_bucketed")
    val martConsumers = Set("q62_mart_explode", "q78_mart_objects")
    val stagedConsumers = Set(
      "q58_compact_roundtrip", "q61_stage004", "q68_compact",
      "q79_exact_closed")
    Map(
      "index_core" -> indexConsumers,
      // lower layers can be re-demanded by a rebuild of the layer above,
      // so each keeps the upper layers' consumers in its own set
      "mart_core" -> (martConsumers ++ indexConsumers),
      "staged" -> (stagedConsumers ++ martConsumers ++ indexConsumers))
  }

  /** The stage004 polyfill is the expensive step (O(cells) H3 math per
    * row); materialize it once per scale factor and share across every
    * downstream query — the reference materializes staging_004 as a
    * table for the same reason (004:23 CREATE OR REPLACE TABLE). */
  private def cached(key: String, dir: String)(build: => DataFrame): DataFrame =
    Memos.shared(s"geo:$key:$dir", consumersOf(key))(build.persist())(
      _.unpersist())

  private def staged(s: SparkSession, dir: String): DataFrame =
    cached("staged", dir) {
      // the fixture parquet is one small file -> 1-2 input partitions;
      // the per-row H3 polyfill is compute-bound, so spread it across
      // the cluster width before the expensive projection
      Stages.stage004(
        GeoFixture(s, dir).repartition(s.sparkContext.defaultParallelism))
    }

  /** Cache the NARROW mart core (id/klass/…/h3_cell) and derive the
    * per-cell latlng/geom columns lazily on top: consumers that never
    * read them (explode-counts, h3_stats, heatmap, objects) get them
    * column-pruned instead of paying per-row cell->polygon math and a
    * WKB-wide cache for 10^6-10^9 exploded rows. Only the exact-refine
    * query (q67) evaluates geom, and only on its post-join matches. */
  private def mart(s: SparkSession, dir: String): DataFrame =
    Stages.martH3Derived(cached("mart_core", dir) {
      Stages.martH3Core(
        Stages.normalizeExtRestr(staged(s, dir), fm, "geo_cust"), "geo_cust")
    })

  def sharedIndex(s: SparkSession, dir: String): DataFrame =
    index(s, dir)

  /** Force-build the shared layers (staged -> mart_core -> index_core) so
    * a bench harness can charge the one-time build to an explicit setup
    * phase instead of whichever consumer happens to run first. Rounds 4-7
    * generated recurring false regression flags from exactly that
    * attribution (driver r06: q69 5.2x, q46 3.6x, q45 1.7x — all cleared
    * by clean-host recapture). One action through the index evaluates and
    * persists all three layers. The lazily-derived geom column is dropped:
    * it is not part of any persisted layer. */
  def prewarmShared(s: SparkSession, dir: String): Unit = {
    index(s, dir).drop("geom")
      .write.format("noop").mode("overwrite").save()
    // the q239/q240 fixture layouts (multi-parent parquet, bucketed
    // warehouse) are one-time writes over the index just built —
    // setup-phase work, not timed-entry work
    q239Fixture(s, dir)
    q240Fixture(s, dir)
    ()
  }

  /** Normalized objects (one row per object, with source_id) — lazy
    * projection over the cached staged relation, shared with the
    * consistency-oracle queries. */
  private[queries] def sharedNormalized(s: SparkSession, dir: String): DataFrame =
    Stages.normalizeExtRestr(staged(s, dir), fm, "geo_cust")

  private[queries] def sharedMart(s: SparkSession, dir: String): DataFrame =
    mart(s, dir)

  /** The queryable index: persist the NARROW columns plus the
    * materialized query-res ancestor (the covering column H3Query picks
    * up automatically — polygon queries become pure equi-joins with no
    * per-row cell math), and re-derive the WKB cell geometry lazily so
    * only the exact-refine path ever evaluates it. */
  private def index(s: SparkSession, dir: String): DataFrame = {
    val core = cached("index_core", dir) {
      // two datasets split by id parity -> exercises the dynamic union,
      // both branches filtering the one cached mart (no recompute)
      val m = mart(s, dir)
      val parity = conv(substring(col("id"), 1, 2), 16, 10).cast("int") % 2
      val even = m.filter(parity === 0).withColumn("dataset", lit("geo_even"))
      val odd = m.filter(parity === 1).withColumn("dataset", lit("geo_odd"))
      H3Index.withParentAt(
        H3Index.build(s, Map("geo_even" -> even, "geo_odd" -> odd))
          .drop("geom"),
        H3Query.DefaultQueryRes)
    }
    core.withColumn("geom", g_h3_cell_to_geom(col("h3_cell")))
  }


  /** q234's GraftExtensions session + its covering-cell fixture views,
    * memoized per JVM (r17 ADVICE low / Next #6): the entry previously
    * rebuilt a SparkSession, two localCheckpointed frames and their
    * temp views on EVERY execution — under the bench's multi-rep and
    * deferred runs those accumulated (orphaned session state, RDD
    * checkpoint blocks) and ~2-3 s of each rep's wall was session
    * setup. One extensions session per (JVM, dir) now owns the views
    * and checkpoint blocks for the process lifetime; the identity work
    * (unrewritten baselines, plan asserts, rewritten collects) still
    * runs — and is what the entry times — on every execution. The
    * battery's shared memos still cannot cross sessions: the fixture
    * index is built ON this session, once. */
  private val q234Memo =
    new java.util.concurrent.ConcurrentHashMap[String, SparkSession]()

  /** q239's multi-parent parquet index and q240's bucketed warehouse —
    * built once per (JVM, dir): the entries pin PLAN shape + identity
    * per execution; the fixture layout itself is one-time setup,
    * charged to the bench's setup phase via [[prewarmShared]] (paying
    * a multi-second parquet/bucketed write inside whichever timed
    * window runs first made q239/q240 swing 3.7 -> 12.5 s across
    * otherwise-identical captures — the exact attribution noise the
    * prewarm convention exists to remove). */
  private val q239Memo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val q240Memo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Multi-parent (h3_parent_{6,7,8}) index as a parquet round-trip —
    * RELATION columns, not prunable Project aliases (the q236
    * lesson). Returns the parquet path. */
  private def q239Fixture(s: SparkSession, dir: String): String =
    q239Memo.computeIfAbsent(dir, _ => {
      val out = java.nio.file.Files
        .createTempDirectory("graft_q239_idx").toString
      H3Index.withParentsAt(sharedIndex(s, dir).drop("geom"), Seq(6, 7))
        .write.mode("overwrite").parquet(out)
      out
    })

  /** `bucketBy(4, h3_parent_8)` warehouse slice as an EXTERNAL table
    * at a fresh per-JVM temp path: a managed location under
    * spark-warehouse/ survives the in-memory catalog (a prior JVM's
    * run leaves the directory behind, and saveAsTable refuses a
    * pre-existing managed location even after DROP TABLE IF EXISTS).
    * Returns the table name. */
  private def q240Fixture(s: SparkSession, dir: String): String = {
    val table = "g_q240_idx_bucketed"
    q240Memo.computeIfAbsent(dir, _ => {
      s.sql(s"DROP TABLE IF EXISTS $table")
      val loc = java.nio.file.Files
        .createTempDirectory("graft_q240_idx").toString
      sharedIndex(s, dir).drop("geom")
        .filter(pmod(xxhash64(col("h3_cell")), lit(8)) === 0)
        .select("id", "dataset_id", "h3_cell", "h3_parent_8")
        .write.bucketBy(4, "h3_parent_8").sortBy("h3_parent_8")
        .option("path", loc)
        .mode("overwrite").saveAsTable(table)
      table
    })
  }
  private def q234Session(s: SparkSession, dir: String): SparkSession = {
    // a memoized session bound to a STOPPED context (the embedding app
    // restarted Spark in this JVM) would fail every q234 run forever —
    // invalidate and rebuild against the live context instead
    val cached = q234Memo.get(dir)
    if (cached != null && cached.sparkContext.isStopped)
      q234Memo.remove(dir, cached)
    q234SessionBuild(s, dir)
  }
  private def q234SessionBuild(s: SparkSession, dir: String): SparkSession =
    q234Memo.computeIfAbsent(dir, _ => {
      val prevDefault = SparkSession.getDefaultSession
      val prevActive = SparkSession.getActiveSession
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      try {
        val s2 = SparkSession.builder()
          .master("local[4]")
          .config("spark.ui.enabled", "false")
          .withExtensions(new graft.GraftExtensions)
          .getOrCreate()
        require(s2 ne s, "extensions session was not freshly built")
        val fixture = GeoFixture(s2, dir).filter(col("fid") <= 360)
        val idx = fixture
          .withColumn("h3_cell",
            explode(g_h3_covering_cells_l(col("geom"), lit(9))))
          .select(col("fid").as("id"), col("h3_cell"),
            g_h3_cell_to_geom(col("h3_cell")).as("geom"))
          .localCheckpoint()
        idx.createOrReplaceTempView("g_q234_idx")
        GeoFixture(s2, dir).filter(col("fid") <= 25)
          .select(col("fid").as("gid"), col("geom").as("qgeom"))
          .localCheckpoint()
          .createOrReplaceTempView("g_q234_geoms")
        s2
      } finally {
        SparkSession.clearDefaultSession()
        SparkSession.clearActiveSession()
        prevDefault.foreach(SparkSession.setDefaultSession)
        prevActive.foreach(SparkSession.setActiveSession)
      }
    })

  /** Multiset symmetric difference of two row collections: over every
    * distinct row, the absolute difference of its counts on the two
    * sides, summed. */
  private def multisetDiff(a: Array[Seq[Any]], b: Array[Seq[Any]]): Long = {
    def counted(rows: Array[Seq[Any]]): Map[Seq[Any], Int] =
      rows.groupBy(identity).map { case (k, v) => (k, v.length) }
    val (ca, cb) = (counted(a), counted(b))
    (ca.keySet ++ cb.keySet).iterator
      .map(k => math.abs(ca.getOrElse(k, 0) - cb.getOrElse(k, 0)).toLong)
      .sum
  }

  /** Shared scaffold for the optimizer-rule identity entries
    * (q229/q232/q233): collect `q` UNREWRITTEN (its own perfect
    * oracle — same engine, same rows), install the rule + conf,
    * require `planOk` of the executed plan (the rewrite actually
    * fired), collect again WHILE installed (q212's discipline), and
    * pin the symmetric diff at zero. MULTISET semantics (r16 ADVICE):
    * the diff is over per-row-value COUNTS — a full-outer merge of the
    * two (row, count) maps — so a duplication of one row paired with a
    * drop of another equal-cardinality row cannot cancel the way a
    * set-diff plus a total length delta could. */
  private def ruleIdentity(s: SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan],
      confKey: String, res: String, planOk: String => Boolean,
      failMsg: String)(q: => DataFrame): DataFrame = {
    import s.implicits._
    val baseRows = q.collect().map(_.toSeq)
    graft.Sessions.withRule(s, rule, confKey -> res) {
      val rew = q
      require(planOk(rew.queryExecution.executedPlan.toString), failMsg)
      val rewRows = rew.collect().map(_.toSeq)
      Seq((multisetDiff(baseRows, rewRows), baseRows.nonEmpty))
        .toDF("diff", "nonempty")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // WKB<->WKT round-trip + type dispatch, oracle-checked at string
    // level (the only spatial check DuckDB can replay without its
    // spatial extension).
    "q60_geom_roundtrip" -> ((s, dir) => {
      GeoFixture(s, dir)
        .select(col("fid"),
          md5(st_astext(col("geom")).cast("binary")).as("wkt_md5"),
          st_geometrytype(col("geom")).as("gtype"))
        .orderBy("fid")
    }),

    // Stage004 enrichment (004_staging_transform_template.sql:10-61) —
    // the closed-form-expressible projection, so DuckDB can hash-match
    // it: _geom_md5 is md5 of integer-arithmetic WKT, _attr_md5 is md5
    // of the to_json attr struct (replayed by string concatenation),
    // and the SWEREF centroid is exact rational arithmetic. The
    // non-SQL-expressible stage004 outputs (_h3_index, _h3_cells,
    // WGS84 centroid) are pinned by companions instead: q58/q78/q79
    // (cell sets + membership), q79's TM-transform dependency.
    "q61_stage004" -> ((s, dir) => {
      staged(s, dir)
        .select(col("fid"), col("_geom_md5"), col("_attr_md5"),
          round(st_x(st_centroid(col("geom"))), 3).as("cx"),
          round(st_y(st_centroid(col("geom"))), 3).as("cy"))
        .orderBy("fid")
    }),

    // Mart explode -> per-klass cell stats (aab_ext_restr/002).
    "q62_mart_explode" -> ((s, dir) => {
      mart(s, dir)
        .groupBy("klass")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("h3_cell")).as("n_cells"),
          countDistinct(col("id")).as("n_objects"))
        .orderBy("klass")
    }),

    // Dynamic-union index -> h3_stats heatmap pre-aggregate
    // (pipeline_runner.py:1144-1153), top cells.
    // Array columns stringified in the final projection so the
    // driver's pandas harness can sort/hash the output (the arrays
    // themselves are still built distributed inside H3Index.stats).
    "q63_h3_stats" -> ((s, dir) => {
      H3Index.statsTop(index(s, dir), 50)
        .withColumn("h3_cell", h3_hex(col("h3_cell")))
        .withColumn("datasets", concat_ws("|", col("datasets")))
        .withColumn("klasser", concat_ws("|", col("klasser")))
        .withColumn("leverantorer", concat_ws("|", col("leverantorer")))
    }),

    // Polygon query, objects mode (h3_query.py:98-119).
    "q64_query_objects" -> ((s, dir) =>
      H3Query.objects(s, index(s, dir), GeoFixture.queryPolygonWkt, res = 8)),

    // Polygon query, stats mode (h3_query.py:122-144).
    "q65_query_stats" -> ((s, dir) =>
      H3Query.stats(s, index(s, dir), GeoFixture.queryPolygonWkt, res = 8)
        .withColumn("leverantorer", concat_ws("|", col("leverantorer")))),

    // Polygon query, heatmap mode (h3_query.py:147-171).
    "q66_query_heatmap" -> ((s, dir) =>
      H3Query.heatmap(s, index(s, dir), GeoFixture.queryPolygonWkt, res = 8)
        .withColumn("datasets", concat_ws("|", col("datasets")))
        .limit(100)),

    // H3 prefilter + exact ST_Intersects refine
    // (docs/H3_POLYGON_ANALYSIS.md:337-355).
    "q67_query_exact" -> ((s, dir) =>
      H3Query.objectsExact(s, index(s, dir), GeoFixture.queryPolygonWkt, res = 8)),

    // The H3IntersectsRewrite OPTIMIZER RULE (plans/H3IntersectsRewrite,
    // wired in production via spark.sql.extensions=graft.GraftExtensions;
    // here via the runtime extraOptimizations hook, the q212 pattern):
    // a DECLARATIVE full-scan spatial filter —
    // st_intersects(geom, <literal polygon>), per-row cell->geometry
    // math plus the exact test over the ENTIRE index — replans
    // transparently into the broadcast H3 covering-cell prefilter +
    // guarded exact refine (the reference's documented two-step,
    // docs/H3_POLYGON_ANALYSIS.md:337-355, measured there at ~100x).
    // The ruleIdentity scaffold requires the rule fired (prefilter
    // join + guarded refine in-plan, so the bare full-scan filter is
    // GONE) and pins the symmetric diff against the same query run
    // UNREWRITTEN at zero. q67 is the explicit-operator spelling of
    // the same shape (H3Query.objectsExact).
    "q229_h3filter_rule" -> ((s, dir) => {
      val rule = graft.plans.H3IntersectsRewrite(s)
      val queryWkb = graft.spatial.Geometry.toWkb(
        graft.spatial.Geometry.fromWkt(GeoFixture.queryPolygonWkt))
      val idx = sharedIndex(s, dir)
      ruleIdentity(s, rule, rule.ConfKey, "8",
        p => p.contains("__g_h3f_key") && p.contains("__g_h3f_refine") &&
          p.contains("BroadcastHashJoin"),
        "H3IntersectsRewrite did not fire on the battery session — " +
          "the spatial filter would run as a full index scan") {
        idx.filter(st_intersects(col("geom"), lit(queryWkb)))
          .select("id", "dataset_id", "leverantor", "klass").distinct()
      }
    }),

    // The H3JoinRewrite OPTIMIZER RULE (plans/H3JoinRewrite): a
    // declarative SPATIAL JOIN — index JOIN geometries ON
    // st_intersects(geom, qgeom), which Spark plans as
    // BroadcastNestedLoopJoin evaluating exact geometry per PAIR —
    // replans into the covering-cell equi-join (the geometry side
    // explodes to g_h3_covering_cells of its per-row geometry, the
    // index keys by its stored ancestor, exact math only on
    // cell-colocated candidates). The reference's "spatial join
    // reduced to an H3 equi-join" (docs/H3_POLYGON_ANALYSIS.md:
    // 301-321) generalized from one literal polygon to a TABLE of
    // mixed polygon/line/point geometries; 1-in-8 index stratum keeps
    // the unrewritten nested-loop baseline affordable.
    "q232_h3join_rule" -> ((s, dir) => {
      val rule = graft.plans.H3JoinRewrite(s)
      val idx = sharedIndex(s, dir)
        .filter(pmod(xxhash64(col("h3_cell")), lit(8)) === 0)
      val gs = GeoFixture(s, dir).filter(col("fid") <= 40)
        .select(col("fid").cast("long").as("gid"),
          col("geom").as("qgeom"))
      ruleIdentity(s, rule, rule.ConfKey, "8",
        p => p.contains("__g_h3j_") && !p.contains("NestedLoop") &&
          !p.contains("Cartesian"),
        "H3JoinRewrite did not fire — the spatial join would run " +
          "as a nested-loop product") {
        idx.join(gs, st_intersects(col("geom"), col("qgeom")))
          .groupBy("gid")
          .agg(countDistinct(col("id")).as("n_objects"),
            count(lit(1)).as("n_pairs"))
          .orderBy("gid")
      }
    }),

    // DISTANCE-join form of the rule (the ST_DWithin shape): the
    // constant threshold widens the covering — the rewrite must keep
    // pairs whose geometries are WITHIN 900 m but do NOT intersect
    // (the load-bearing buffer; a pure-intersects covering would drop
    // them). Same zero-diff identity against the unrewritten
    // nested-loop join.
    "q233_h3join_dwithin" -> ((s, dir) => {
      val rule = graft.plans.H3JoinRewrite(s)
      val idx = sharedIndex(s, dir)
        .filter(pmod(xxhash64(col("h3_cell")), lit(16)) === 0)
      val gs = GeoFixture(s, dir).filter(col("fid") <= 30)
        .select(col("fid").cast("long").as("gid"),
          col("geom").as("qgeom"))
      ruleIdentity(s, rule, rule.ConfKey, "8",
        p => p.contains("__g_h3j_") && !p.contains("NestedLoop") &&
          !p.contains("Cartesian"),
        "H3JoinRewrite did not rewrite the distance join") {
        idx.join(gs,
            st_distance(col("geom"), col("qgeom")) <= 900.0)
          .groupBy("gid")
          .agg(countDistinct(col("id")).as("n_objects"),
            count(lit(1)).as("n_pairs"))
          .orderBy("gid")
      }
    }),

    // ST_DWithin FILTER form of the rewrite (r17: the filter twin of
    // q233's distance JOIN): a declarative `st_distance(geom,
    // <literal point>) <= 1500` radius query — per-row cell->geometry
    // math plus an exact distance over the ENTIRE index unrewritten —
    // replans into the broadcast covering prefilter widened by
    // exactly the threshold (H3Cover any-geometry corridor), verbatim
    // predicate refining every candidate. Zero multiset-diff against
    // the unrewritten scan; the literal is a POINT, so this also pins
    // the any-type-literal generalization.
    "q235_h3filter_dwithin" -> ((s, dir) => {
      val rule = graft.plans.H3IntersectsRewrite(s)
      val ptWkb = graft.spatial.Geometry.toWkb(
        graft.spatial.Pt(570000, 6452000))
      val idx = sharedIndex(s, dir)
      ruleIdentity(s, rule, rule.ConfKey, "8",
        p => p.contains("__g_h3f_key") && p.contains("BroadcastHashJoin"),
        "H3IntersectsRewrite did not fire on the ST_DWithin filter — " +
          "the radius query would run as a full index scan") {
        idx.filter(st_distance(col("geom"), lit(ptWkb)) <= 1500.0)
          .select("id", "dataset_id", "leverantor", "klass").distinct()
      }
    }),

    // res=auto end-to-end (r17 Next #3): the SAME identity as q229 but
    // with the conf at `auto` — the rule must INFER the resolution from
    // the index's single stored h3_parent_8 column — and with a select
    // narrow enough that column pruning strips the stored parent from
    // the Filter child's Project: the r18 key THREADING
    // (H3RuleSupport.keyedPlan, shared with the join rule) must carry
    // the pruned stored column back up, or the rewrite goes silently
    // inert (the r17 ADVICE gap). planOk pins all three: the rewrite
    // fired, the prefilter broadcasts, and the join key aliases the
    // STORED parent column (rank 0 — no per-row parent math).
    "q236_h3filter_auto" -> ((s, dir) => {
      val rule = graft.plans.H3IntersectsRewrite(s)
      val queryWkb = graft.spatial.Geometry.toWkb(
        graft.spatial.Geometry.fromWkt(GeoFixture.queryPolygonWkt))
      val idx = sharedIndex(s, dir)
      ruleIdentity(s, rule, rule.ConfKey, "auto",
        p => p.contains("__g_h3f_key") && p.contains("BroadcastHashJoin") &&
          "h3_parent_8#\\d+L AS __g_h3f_key".r.findFirstIn(p).isDefined,
        "H3IntersectsRewrite res=auto did not infer the stored-parent " +
          "resolution and thread the pruned key — the spatial filter " +
          "would run as a full index scan") {
        idx.filter(st_intersects(col("geom"), lit(queryWkb)))
          .select("id", "dataset_id").distinct()
      }
    }),

    // COARSENED prefilter end-to-end (r18): the q229 identity with
    // maxCells pinned just UNDER the res-8 covering size — the res-8
    // prefilter cannot fit the cap, so the rule can only fire by
    // dropping to a coarser res (pre-r18 it went inert here and the
    // full scan ran). planOk(fired) therefore PROVES the coarsening
    // path, and the zero multiset-diff proves the coarser covering is
    // still lossless (more candidates, same verbatim refine).
    "q238_h3filter_coarse" -> ((s, dir) => {
      val rule = graft.plans.H3IntersectsRewrite(s)
      val poly = graft.spatial.Geometry.fromWkt(GeoFixture.queryPolygonWkt)
      val queryWkb = graft.spatial.Geometry.toWkb(poly)
      val cover8 = graft.h3.H3Cover.coveringCellIds(poly, 8)
      require(cover8.length > 200,
        s"q238 fixture covering too small (${cover8.length}) — the " +
          "coarsening path would be vacuous")
      val idx = sharedIndex(s, dir)
      graft.Sessions.withConf(s,
          rule.MaxCellsKey -> (cover8.length - 1).toString) {
        ruleIdentity(s, rule, rule.ConfKey, "8",
          p => p.contains("__g_h3f_key") && p.contains("BroadcastHashJoin"),
          "H3IntersectsRewrite went INERT on an over-cap covering — the " +
            "r18 coarsening should have prefiltered at a coarser res") {
          idx.filter(st_intersects(col("geom"), lit(queryWkb)))
            .select("id", "dataset_id", "leverantor", "klass").distinct()
        }
      }
    }),

    // MULTI-PARENT res=auto (r19 Next #4): the recommended coarse-
    // ancestor layout (H3Index.withParentsAt — h3_parent_{6,7,8}
    // stored) must not be rule-disabling. Pre-r19, `auto` refused it
    // as ambiguous and the full scan ran; now it keys the FINEST
    // stored parent (8 — the tightest sound prefilter), rank 0, with
    // a once-per-session warning naming the choice. planOk pins the
    // finest-parent alias; hasWarned pins the warning itself; the
    // zero multiset-diff pins losslessness. The multi-parent relation
    // is a parquet round-trip memoized per JVM (relation columns,
    // not prunable Project aliases — the q236 lesson).
    "q239_h3filter_multiparent" -> ((s, dir) => {
      val rule = graft.plans.H3IntersectsRewrite(s)
      val queryWkb = graft.spatial.Geometry.toWkb(
        graft.spatial.Geometry.fromWkt(GeoFixture.queryPolygonWkt))
      val idx = s.read.parquet(q239Fixture(s, dir))
        .withColumn("geom", g_h3_cell_to_geom(col("h3_cell")))
      val out = ruleIdentity(s, rule, rule.ConfKey, "auto",
        p => p.contains("__g_h3f_key") && p.contains("BroadcastHashJoin") &&
          "h3_parent_8#\\d+L AS __g_h3f_key".r.findFirstIn(p).isDefined,
        "H3IntersectsRewrite res=auto did not key the FINEST of " +
          "multiple stored parents — the recommended layout would be " +
          "rule-disabling") {
        idx.filter(st_intersects(col("geom"), lit(queryWkb)))
          .select("id", "dataset_id").distinct()
      }
      require(graft.plans.H3RuleSupport.hasWarned(s,
        s"${rule.ConfKey}-multiparent-8,7,6"),
        "multi-parent auto keyed the finest res without warning")
      out
    }),

    // BUCKETED SHUFFLE-FREE JOIN under the driver oracle (r19 Next #5
    // + #6): the 156x layout story (31.3 -> 0.2 MB shuffled, PERF.md
    // r17) was spec-only. Arm 1, on a FRESH session at the DEFAULT
    // autoBucketedScan=true: analyzing the rewritten join must emit
    // the silent-loss footgun warning naming the conf (the guardrail
    // itself gets a driver-visible pin). Arm 2, with the conf false
    // and broadcast disabled: the rewritten equi-join must reuse the
    // bucketBy(4, h3_parent_8) layout — `Bucketed: true` in the FINAL
    // adaptive plan and ZERO index-side Exchange — and match the
    // unrewritten nested-loop join's rows multiset-exactly.
    "q240_h3join_bucketed" -> ((s, dir) => {
      import s.implicits._
      val table = q240Fixture(s, dir)
      def queryOn(sess: SparkSession): org.apache.spark.sql.DataFrame = {
        val t = sess.table(table)
          .withColumn("geom", g_h3_cell_to_geom(col("h3_cell")))
        val gs = GeoFixture(sess, dir).filter(col("fid") <= 40)
          .select(col("fid").cast("long").as("gid"),
            col("geom").as("qgeom"))
        t.join(gs, st_intersects(col("geom"), col("qgeom")))
          .groupBy("gid")
          .agg(countDistinct(col("id")).as("n_objects"),
            count(lit(1)).as("n_pairs"))
          .orderBy("gid")
      }
      // unrewritten baseline on the battery session (no rule installed)
      val baseRows = queryOn(s).collect().map(_.toSeq)
      require(baseRows.nonEmpty, "q240 fixture joins nothing — vacuous")
      // arm 1: footgun warning on a fresh session under the default conf
      val s1 = s.newSession()
      val rule1 = graft.plans.H3JoinRewrite(s1)
      val warnKey = s"${rule1.ConfKey}-autobucketedscan"
      graft.Sessions.withRule(s1, rule1, rule1.ConfKey -> "8") {
        require(s1.conf.get(
          "spark.sql.sources.bucketing.autoBucketedScan.enabled",
          "true") == "true",
          "q240 arm-1 precondition: autoBucketedScan is not default-true")
        require(!graft.plans.H3RuleSupport.hasWarned(s1, warnKey),
          "fresh session carries a stale warn key")
        queryOn(s1).queryExecution.executedPlan // analyze: rewrite + warn
        require(graft.plans.H3RuleSupport.hasWarned(s1, warnKey),
          "the rule keyed a bucketed scan under default autoBucketedScan " +
            "without the silent-loss warning")
      }
      // arm 2: shuffle-free bucketed join, rows identical
      val s2 = s.newSession()
      val rule2 = graft.plans.H3JoinRewrite(s2)
      val (rewRows, plan) = graft.Sessions.withRule(s2, rule2,
          rule2.ConfKey -> "8",
          "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val rew = queryOn(s2)
        val rows = rew.collect().map(_.toSeq)
        // executedPlan AFTER collect: AQE's FINAL plan (a noop write
        // would hide it — the adaptive plan finalizes on execution)
        (rows, rew.queryExecution.executedPlan.toString)
      }
      require(plan.contains("__g_h3j_") && !plan.contains("NestedLoop") &&
        !plan.contains("Cartesian"),
        s"q240 arm-2: the join rewrite did not fire:\n$plan")
      val finalSec = plan.split("== Final Plan ==").last
        .split("== Initial Plan ==").head
      require(finalSec.contains("Bucketed: true"),
        s"bucketed scan unused under the rewrite:\n$finalSec")
      require(!finalSec.linesIterator.exists(
        _.contains("Exchange hashpartitioning(__g_h3j_key")),
        s"index side re-shuffled despite the bucketed layout:\n$finalSec")
      Seq((multisetDiff(baseRows, rewRows), true)).toDF("diff", "nonempty")
    }),

    // res=auto end-to-end for the JOIN rule (the q236 twin): the q232
    // spatial-join identity with the conf at `auto` — the rule infers
    // the res from the index side's stored h3_parent_8 (the geometry
    // side carries no parent columns, so the inference is unambiguous)
    // and must thread the pruned stored column up as the equi-join key
    // (rank 0 — planOk pins the stored-parent alias, so per-row parent
    // math would fail the entry, not just slow it down).
    "q237_h3join_auto" -> ((s, dir) => {
      val rule = graft.plans.H3JoinRewrite(s)
      val idx = sharedIndex(s, dir)
        .filter(pmod(xxhash64(col("h3_cell")), lit(8)) === 0)
      val gs = GeoFixture(s, dir).filter(col("fid") <= 40)
        .select(col("fid").cast("long").as("gid"),
          col("geom").as("qgeom"))
      ruleIdentity(s, rule, rule.ConfKey, "auto",
        p => p.contains("__g_h3j_") && !p.contains("NestedLoop") &&
          !p.contains("Cartesian") &&
          "h3_parent_8#\\d+L AS __g_h3j_key".r.findFirstIn(p).isDefined,
        "H3JoinRewrite res=auto did not infer the stored-parent " +
          "resolution and thread the key — the spatial join would run " +
          "as a nested-loop product") {
        idx.join(gs, st_intersects(col("geom"), col("qgeom")))
          .groupBy("gid")
          .agg(countDistinct(col("id")).as("n_objects"),
            count(lit(1)).as("n_pairs"))
          .orderBy("gid")
      }
    }),

    // SQL-STRING end-to-end for BOTH H3 rules (r16 Next #7): the
    // production path the rules exist for — a spark.sql text query on
    // a session built with spark.sql.extensions=graft.GraftExtensions
    // (no registerAll, no extraOptimizations, no DataFrame API). The
    // extensions inject the st_*/g_* parser surface AND the two
    // optimizer rules; with the confs set, the SQL filter replans to
    // the broadcast covering prefilter (__g_h3f_) and the SQL join to
    // the covering-cell equi-join (__g_h3j_). Both pinned by the
    // q229-style zero multiset-diff against the same SQL text run
    // UNREWRITTEN on the same session. The extensions session and its
    // small cell index (g_h3_covering_cells at res 9 over ~360 mixed
    // geometries — covering, so the cell-geometry layout contract
    // holds for every type) are built ONCE per JVM ([[q234Session]],
    // r17 Next #6): the battery's shared memos belong to the driver
    // session and cannot cross, but reps of THIS entry share its
    // session instead of leaking one per execution.
    "q234_h3_sql_rules" -> ((s, dir) => {
      import s.implicits._
      val s2 = q234Session(s, dir);
      {
        val sqlFilter =
          "SELECT DISTINCT id FROM g_q234_idx WHERE st_intersects(geom, " +
            "st_geomfromtext('" + GeoFixture.queryPolygonWkt + "'))"
        val sqlJoin =
          "SELECT g.gid, COUNT(*) AS n_pairs, COUNT(DISTINCT i.id) AS " +
            "n_objects FROM g_q234_idx i JOIN g_q234_geoms g ON " +
            "st_intersects(i.geom, g.qgeom) GROUP BY g.gid"
        // UNREWRITTEN baselines: same SQL text, confs unset
        val baseF = s2.sql(sqlFilter).collect().map(_.toSeq)
        val baseJ = s2.sql(sqlJoin).collect().map(_.toSeq)
        require(baseF.nonEmpty && baseJ.nonEmpty,
          "q234 fixture selects nothing — vacuous")
        graft.Sessions.withConf(s2, "spark.graft.h3Filter.res" -> "9",
            "spark.graft.h3Join.res" -> "9") {
          val rf = s2.sql(sqlFilter)
          val pf = rf.queryExecution.executedPlan.toString
          require(pf.contains("__g_h3f_"),
            "H3IntersectsRewrite did not fire on the SQL string " +
              s"through GraftExtensions:\n$pf")
          val rj = s2.sql(sqlJoin)
          val pj = rj.queryExecution.executedPlan.toString
          require(pj.contains("__g_h3j_") && !pj.contains("NestedLoop") &&
            !pj.contains("Cartesian"),
            "H3JoinRewrite did not fire on the SQL string through " +
              s"GraftExtensions:\n$pj")
          val diff = multisetDiff(baseF, rf.collect().map(_.toSeq)) +
            multisetDiff(baseJ, rj.collect().map(_.toSeq))
          Seq((diff, true)).toDF("diff", "nonempty")
        }
      }
    }),

    // Per-object compacted hierarchy (aab_ext_restr/003:10-16).
    "q68_compact" -> ((s, dir) => {
      val normalized = Stages.normalizeExtRestr(staged(s, dir), fm, "geo_cust")
      Stages.martH3Compact(normalized)
        .select(col("id"),
          size(col("h3_cells_compact")).cast("long").as("n_compact"))
        .orderBy("id")
    })
  )

  /** The rewrite-rule entries each return one (diff, nonempty) row
    * from their in-query comparison; the oracle is the passing row. */
  private val zeroDiffSql = "SELECT CAST(0 AS BIGINT) AS diff, true AS nonempty"

  val oracle: Map[String, String] = Seq(
    "q229_h3filter_rule", "q234_h3_sql_rules", "q235_h3filter_dwithin",
    "q236_h3filter_auto", "q237_h3join_auto", "q238_h3filter_coarse",
    "q239_h3filter_multiparent", "q240_h3join_bucketed", "q232_h3join_rule",
    "q233_h3join_dwithin").map(_ -> zeroDiffSql).toMap ++ Map(
    "q60_geom_roundtrip" ->
      s"""SELECT c_custkey AS fid, md5(${GeoFixture.wktSql}) AS wkt_md5,
         |  CASE WHEN c_custkey % 3 = 0 THEN 'POINT'
         |       WHEN c_custkey % 3 = 1 THEN 'POLYGON'
         |       ELSE 'LINESTRING' END AS gtype
         |FROM customer ORDER BY fid""".stripMargin,
    // Replays stage004's stored hash columns byte-for-byte: the WKT
    // md5 (format proven by q60) and the to_json(struct(attrs)) md5 via
    // string concatenation in the fixture's column order; the centroid
    // is per-geometry-type rational arithmetic.
    "q61_stage004" ->
      s"""WITH t AS (
         |  SELECT c_custkey,
         |         c_mktsegment, c_nationkey, c_name,
         |         (c_custkey % 31) * 2000 + 560000 AS x0,
         |         ((c_custkey * 7) % 23) * 3000 + 6440000 AS y0,
         |         ${GeoFixture.wktSql} AS wkt
         |  FROM customer)
         |SELECT c_custkey AS fid,
         |  md5(wkt) AS _geom_md5,
         |  md5('{"fid":' || c_custkey ||
         |      ',"source_id":"' || c_custkey ||
         |      '","klass_raw":"' || c_mktsegment ||
         |      '","lev_raw":"nation_' || c_nationkey ||
         |      '","name":"' || c_name ||
         |      '","wkt":"' || wkt || '"}') AS _attr_md5,
         |  CAST(CASE WHEN c_custkey % 3 = 0 THEN x0
         |            WHEN c_custkey % 3 = 1 THEN x0 + 400
         |            ELSE x0 + 750 END AS DOUBLE) AS cx,
         |  CAST(CASE WHEN c_custkey % 3 = 0 THEN y0
         |            WHEN c_custkey % 3 = 1 THEN y0 + 400
         |            ELSE y0 + 450 END AS DOUBLE) AS cy
         |FROM t ORDER BY fid""".stripMargin
  )
}

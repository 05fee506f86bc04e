package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, GraftCatalog, Q, Txn}

/** Scaling-curve harness: one table of curves behind one runner. Each
  * curve measures a shipped code path on inputs grown ×N (the
  * multipliers), takes the min over passes of every timed leg, and
  * writes one JSON artifact to the working directory.
  *
  * Usage: `runMain graft.ScaleBench [curve]` — with no argument the
  * `query` curve runs; an unknown name fails listing the known ones.
  *   - `query` (SCALING_r13.json): the near-dup family, the registered
  *     fixed-count forms (`@bound`, must stay flat) and the LSH/banded
  *     scale paths at each multiplier, with the x_hi/x_lo time ratio.
  *   - `ingest`, `stopgram`: fixed-shard dedup ingest and the n-gram
  *     df cap on planted stop-grams.
  *   - `txnappend`, `txndelete`, `upsert`, `clone`: table-format writes
  *     whose cost must stay flat in the table size, each against the
  *     full-rewrite alternative.
  *   - `bloom`, `partition`, `partskip`, `sqlskip`: files and dirs kept
  *     by each skipping rung as the table grows.
  *   - `sqlmerge`, `overwrite`: SQL MERGE and partition overwrite write
  *     volume.
  *   - `streambacklog`: the rate-limited streaming source's max batch.
  *
  * Corpus synthesis — n× the fixture with the SAME duplication
  * structure: replica k of the documents table keeps every doc,
  * offsets doc_id by k·1e6, and suffixes every token with "_k". Jaccard
  * similarity is invariant under any injective token remap, so each
  * replica reproduces the fixture's internal near-dup structure
  * exactly, while distinct replicas share no tokens (cross-replica
  * Jaccard = 0). Hence the TRUE pair set grows exactly linearly in n —
  * an algorithm whose cost follows the true structure should grow ~n,
  * an all-pairs algorithm must still consider n² candidate pairs.
  * Replica 0 is also suffixed, so per-token bytes are identical at
  * every multiplier.
  *
  * Environment: SPARK_GRAFT_SF_DIR (base fixture, default sf0.1),
  * SPARK_GRAFT_CPUS, SPARK_GRAFT_SCALE_MULTS (default "1,10"),
  * SPARK_GRAFT_SCALE_PASSES (default 2, min-of-passes like Bench) and
  * SPARK_GRAFT_SCALE_ONLY (comma filter on the query curve's keys).
  */
object ScaleBench {

  /** What every curve runs with. */
  private final case class Ctx(spark: SparkSession, baseDir: String,
      mults: Seq[Int], passes: Int, name: String)

  /** One curve: its program-argument name, its artifact and its body,
    * which returns the artifact's JSON. */
  private final case class Curve(name: String, artifact: String, run: Ctx => String)

  private val curves = Seq(
    Curve("query", "SCALING_r13.json", queryCurve),
    Curve("ingest", "INGEST_r13.json", ingestCurve),
    Curve("stopgram", "STOPGRAM_r13.json", stopGramCurve),
    Curve("txnappend", "TXNAPPEND_r13.json", txnAppendCurve),
    Curve("txndelete", "TXNDELETE_r13.json", txnDeleteCurve),
    Curve("upsert", "UPSERT_r13.json", upsertCurve),
    Curve("bloom", "BLOOM_r13.json", bloomCurve),
    Curve("partition", "PARTITION_r13.json", partitionCurve),
    Curve("partskip", "PARTSKIP_r13.json", partSkipCurve),
    Curve("sqlskip", "SQLSKIP_r13.json", sqlSkipCurve),
    Curve("sqlmerge", "SQLMERGE_r13.json", sqlMergeCurve),
    Curve("overwrite", "OVERWRITE_r13.json", overwriteCurve),
    Curve("streambacklog", "STREAMBACKLOG_r13.json", streamBacklogCurve),
    Curve("clone", "CLONE_r13.json", cloneCurve))

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("query")
    val curve = curves.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown curve '$name'; known curves: ${curves.map(_.name).mkString(", ")}"))
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mults = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULTS", "1,10")
      .split(",").map(_.trim.toInt).toSeq
    val passes = sys.env.getOrElse("SPARK_GRAFT_SCALE_PASSES", "2").toInt
    val spark = GraftSession.local(GraftSession.cpus)
    try {
      val json = curve.run(Ctx(spark, baseDir, mults, passes, name))
      Files.write(Paths.get(curve.artifact), json.getBytes)
      println(json)
    } finally spark.stop()
  }

  // ---- the runner: fields, min of passes, artifact JSON ----

  /** One field of a curve point. Seconds keep their min over passes;
    * counts and nested objects keep the last pass's value. */
  private sealed trait V
  private final case class Sec(v: Double, digits: Int = 2) extends V
  private final case class N(v: Long) extends V
  private final case class Obj(fields: Seq[(String, V)]) extends V
  private type Fields = Seq[(String, V)]

  private def fmt(v: Double, digits: Int = 2): String =
    s"%.${digits}f".formatLocal(java.util.Locale.ROOT, v)

  private def render(fs: Fields): String = fs.map {
    case (k, Sec(v, d)) => s""""$k":${fmt(v, d)}"""
    case (k, N(v))      => s""""$k":$v"""
    case (k, Obj(o))    => s""""$k":${render(o)}"""
  }.mkString("{", ",", "}")

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def secs(body: => Any): Sec = Sec(timed(body)._2)

  /** Runs `pass` (given the pass number) `c.passes` times, each from an
    * empty cache, and keeps every Sec field's minimum. */
  private def minOfPasses(c: Ctx)(pass: Int => Fields): Fields =
    (1 to c.passes).map { p => c.spark.catalog.clearCache(); pass(p) }.reduce { (a, b) =>
      a.zip(b).map {
        case ((k, Sec(x, d)), (_, Sec(y, _))) => k -> Sec(math.min(x, y), d)
        case (_, later)                       => later
      }
    }

  /** The artifact of a multiplier curve:
    * `{"note":…,<header>,"passes":…,"corpora":{"x<m>":{…},…}}`, each
    * point also logged to stderr as it lands. */
  private def corpora(c: Ctx, note: String, header: (String, Any)*)(
      point: Int => Fields): String = {
    val points = c.mults.map { m =>
      val fs = render(point(m))
      System.err.println(s"${c.name} x$m: $fs")
      s""""x$m":$fs"""
    }
    val head = header.map { case (k, v) => s""","$k":$v""" }.mkString
    s"""{"note":"$note"$head,"passes":${c.passes},"corpora":{${points.mkString(",")}}}"""
  }

  // ---- shared input helpers ----

  private def rmrf(spark: SparkSession, paths: String*): Unit = paths.foreach { p =>
    val path = new Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
  }

  /** Total bytes on disk under a table root — its growth across a
    * statement is exactly the bytes that statement WROTE (old snapshots
    * are immutable), the construction-level cost page-cached local wall
    * times hide. */
  private def rootBytes(spark: SparkSession, root: String): Long = {
    val p = new Path(root)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var total = 0L
    if (f.exists(p)) {
      val it = f.listFiles(p, true)
      while (it.hasNext) { val st = it.next(); if (st.isFile) total += st.getLen }
    }
    total
  }

  /** The union of replicas 0 until m. */
  private def grown(m: Int)(replica: Int => DataFrame): DataFrame =
    (0 until m).map(replica).reduce(_.unionByName(_))

  private def orders(c: Ctx): DataFrame =
    c.spark.read.parquet(s"${c.baseDir}/orders.parquet")

  /** The orders shard the table-format curves grow. */
  private def orderRows(c: Ctx): DataFrame =
    orders(c).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")

  private def ordersByYear(c: Ctx): DataFrame =
    orders(c).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      year(col("o_orderdate")).cast("long").as("o_year"))

  /** Mounts a graft SQL catalog `name` at `root` around `body`. */
  private def withCatalog[T](spark: SparkSession, name: String, root: String)(
      body: => T): T = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.catalog.GraftSqlCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    try body
    finally {
      spark.conf.unset(s"spark.sql.catalog.$name")
      spark.conf.unset(s"spark.sql.catalog.$name.root")
    }
  }

  /** n× the fixture documents (see the header); with `stopGram` every
    * doc first gains one shared bigram, so each replica carries an
    * every-doc gram — f ≈ corpus/3 docs per hot key after
    * llm_ngram_jaccard's %3 sample, the single-key f² shuffle bomb the
    * NgramDfCap ceiling exists to drop. */
  def synthesize(spark: SparkSession, baseDir: String, mult: Int,
      outDir: String, stopGram: Boolean = false): Unit = {
    val docs0 = Tables.documents(spark, baseDir)
    val docs =
      if (stopGram) docs0.withColumn("text", concat(col("text"), lit(" zzof zzthe")))
      else docs0
    grown(mult) { k =>
      docs.select(
        (col("doc_id") + lit(k * 1000000L)).as("doc_id"),
        concat_ws(" ", expr(s"transform(split(text, ' '), t -> concat(t, '_$k'))"))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  /** n× the fixture embeddings for the registered cosine baseline's
    * flatness point: replica k offsets vec_id by k·100000 — STRICTLY
    * below the +1000000 synthetic-twin offset, so embWithTwins' id
    * guard holds (and the bounded query's twins still come only from
    * the replica-0 prefix it scans). Values are unchanged: the
    * registered form reads only the pushed-down vec_id < SampleBound
    * prefix + its twins, so replica content is inert by construction —
    * the point of the measurement is that corpus GROWTH stays outside
    * the plan. */
  def synthesizeEmb(spark: SparkSession, baseDir: String, mult: Int,
      outDir: String): Unit = {
    require(mult <= 10, s"vec_id offset k*100000 needs mult <= 10, got $mult")
    val emb = Tables.embeddings(spark, baseDir)
    grown(mult)(k => emb.withColumn("vec_id", col("vec_id") + lit(k * 100000L)))
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  // ---- the curves ----

  /** The query curve's keys in artifact order. The two all-pairs
    * baselines run UNSAMPLED (the registry scopes them to fixed-count
    * prefixes, but the curve's point is the unsampled
    * quadratic-vs-linear contrast), and llm_line_dedup runs the
    * twin-free engine (the registered row's +1e6 twin slice would
    * collide with the replica offsets). The `@bound` keys are the
    * REGISTERED fixed-count forms: their doc_id/vec_id < SampleBound
    * scan predicate pushes down, so their cost must stay FLAT as the
    * corpus grows. */
  private val queryForms: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "llm_jaccard_near_dup" -> ((s, d) =>
      graft.ops.Llm.jaccardPairs(Tables.documents(s, d))),
    "llm_simhash_dedup" -> ((s, d) =>
      DedupOps.simhashAllPairs(Tables.documents(s, d))),
    "llm_jaccard_near_dup@bound" -> SparkEntry.queries("llm_jaccard_near_dup"),
    "llm_simhash_dedup@bound" -> SparkEntry.queries("llm_simhash_dedup"),
    "llm_cosine_near_dup@bound" -> SparkEntry.queries("llm_cosine_near_dup"),
    "graph_pagerank@bound" -> SparkEntry.queries("graph_pagerank"),
    "llm_line_dedup" -> ((s, d) =>
      graft.ops.Rewrite.lineDedup(Tables.documents(s, d).select("doc_id", "text"))),
    "llm_minhash_lsh" -> SparkEntry.queries("llm_minhash_lsh"),
    "llm_simhash_banded" -> SparkEntry.queries("llm_simhash_banded"),
    "llm_dedup_clusters" -> SparkEntry.queries("llm_dedup_clusters"),
    "llm_corpus_clean" -> SparkEntry.queries("llm_corpus_clean"),
    "llm_cluster_best" -> SparkEntry.queries("llm_cluster_best"),
    // shard AND corpus both grow n× here — near-linear is the claim
    "llm_dedup_incremental" -> SparkEntry.queries("llm_dedup_incremental"))

  private def queryCurve(c: Ctx): String = {
    val spark = c.spark
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(",").toSet)
    val forms = queryForms.filter { case (k, _) => only.forall(_.contains(k)) }
    val dirs = c.mults.map { m =>
      val d = s"/tmp/graft_scale_x$m"
      synthesize(spark, c.baseDir, m, d)
      if (m <= 10) synthesizeEmb(spark, c.baseDir, m, d)
      m -> d
    }
    val docCounts = dirs.map { case (m, d) =>
      m -> spark.read.parquet(s"$d/documents.parquet").count() // also warms FS cache
    }
    // pass structure mirrors Bench: min over whole-suite passes, so two
    // samples of one query never share a host steal burst
    val best = scala.collection.mutable.Map.empty[(String, Int), Double]
    val rows = scala.collection.mutable.Map.empty[(String, Int), Long]
    for (p <- 1 to c.passes; (m, d) <- dirs; (k, build) <- forms) {
      try {
        val (n, t) = timed(Q.withCached(build(spark, d))(_.count()))
        System.err.println(f"pass $p x$m $k%-22s $t%8.2f s  ($n rows)")
        best((k, m)) = math.min(best.getOrElse((k, m), Double.MaxValue), t)
        rows((k, m)) = n
      } catch { case NonFatal(e) => System.err.println(s"FAIL $k $d: $e") }
      finally spark.catalog.clearCache()
    }
    val (lo, hi) = (c.mults.min, c.mults.max)
    val qJson = forms.map { case (k, _) =>
      val per = c.mults.map(m =>
        s""""x$m":{"sec":${fmt(best.getOrElse((k, m), -1.0))},"rows":${rows.getOrElse((k, m), -1L)}}""")
        .mkString(",")
      val ratio =
        if (best.contains((k, lo)) && best.contains((k, hi)) && best((k, lo)) > 0)
          fmt(best((k, hi)) / best((k, lo)))
        else "-1"
      s""""$k":{$per,"t_x$hi/t_x$lo":$ratio}"""
    }.mkString("{", ",", "}")
    val docsJson = docCounts
      .map { case (m, n) => s""""x$m":$n""" }.mkString("{", ",", "}")
    s"""{"base":"${c.baseDir}","multipliers":[${c.mults.mkString(",")}],"passes":${c.passes},"docs":$docsJson,"queries":$qJson}"""
  }

  /** Fixed-shard ingest probe: the amortization claim behind
    * `buildNearDupIndex`/`novelAgainst` is "per-shard cost scales with
    * the SHARD, not the corpus" — so a FIXED shard (the base fixture's
    * doc_id % 10 slice, tokens suffixed `_0` so it matches replica 0)
    * probes corpora of growing size through the real cross-job shape:
    * build the index, WRITE it to parquet, RELOAD it, and probe from
    * the reloaded index. Build and write are the amortized
    * once-per-corpus-version costs; probe is the recurring per-shard
    * cost. */
  private def ingestCurve(c: Ctx): String = {
    val dirs = c.mults.map { m =>
      val d = s"/tmp/graft_scale_x$m"
      synthesize(c.spark, c.baseDir, m, d)
      m -> d
    }.toMap
    val shard = c.spark.read.parquet(s"${dirs(c.mults.head)}/documents.parquet")
      .where(col("doc_id") % 10 === 0 && col("doc_id") < 1000000L)
    val nShard = shard.count()
    corpora(c, "fixed shard vs growing corpus; build+write are the amortized once-per-corpus-version costs, probe runs against the RELOADED parquet index (r7 persistence leg)",
      "shard_docs" -> nShard) { m =>
      val corpus = c.spark.read.parquet(s"${dirs(m)}/documents.parquet")
        .where(col("doc_id") % 10 =!= 0)
      minOfPasses(c) { _ =>
        val (idx, build) = timed {
          val idx = DedupOps.buildNearDupIndex(corpus)
          // force every persisted frame — the one-time cost a real
          // pipeline pays once per corpus version
          idx.refSets.count(); idx.bands.count(); idx.members.count()
          idx
        }
        val ipath = s"${dirs(m)}/neardup_index"
        val write = secs(idx.write(ipath))
        val ((loaded, novel), probe) = timed {
          val loaded = DedupOps.NearDupIndex.load(c.spark, ipath)
          (loaded, DedupOps.novelAgainst(shard, loaded).count())
        }
        idx.unpersist(); loaded.unpersist()
        Seq("build_sec" -> Sec(build), "write_sec" -> write,
          "probe_sec" -> Sec(probe), "novel_rows" -> N(novel))
      }
    }
  }

  /** Stop-gram bound point: the REGISTERED llm_ngram_jaccard on corpora
    * where every doc shares a planted bigram (per replica — token
    * suffixing keeps replicas disjoint). Without the NgramDfCap ceiling
    * the planted gram alone contributes f(f-1)/2 candidate pairs ON
    * ONE JOIN KEY (f ≈ corpus/3 after the %3 sample); with it the gram
    * is dropped before the join. The artifact records the measured
    * capped runtime AND the analytic uncapped single-key pair count it
    * avoided — the bomb is reported, not detonated. */
  private def stopGramCurve(c: Ctx): String =
    corpora(c, s"every doc carries a planted stop-bigram; registered llm_ngram_jaccard timed WITH the df cap ${DedupOps.NgramDfCap}; uncapped_cand_pairs is the analytic single-key bomb the cap removed") { m =>
      val d = s"/tmp/graft_scale_sg_x$m"
      synthesize(c.spark, c.baseDir, m, d, stopGram = true)
      // gram df census over the SAME %3-sampled distinct gram sets the
      // query builds — uncapped candidate pairs = Σ f(f-1)/2
      val bg = Tables.documents(c.spark, d)
        .where(col("doc_id") % 3 === 0)
        .withColumn("toks", split(col("text"), " "))
        .where(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1), " +
            "(x, y) -> concat(x, ' ', y))")).as("gram"))
        .distinct()
        .groupBy("gram").agg(count(lit(1)).as("f"))
      val Seq(maxDf, uncapped, capped) = bg.agg(
          max(col("f")),
          sum(expr("f * (f - 1) div 2")),
          sum(expr(s"if(f <= ${DedupOps.NgramDfCap}, f * (f - 1) div 2, 0L)")))
        .collect().head.toSeq.map(_.asInstanceOf[Long])
      minOfPasses(c) { _ =>
        val (n, t) = timed(
          Q.withCached(SparkEntry.queries("llm_ngram_jaccard")(c.spark, d))(_.count()))
        Seq("sec" -> Sec(t), "rows" -> N(n))
      } ++ Seq("max_gram_df" -> N(maxDf), "uncapped_cand_pairs" -> N(uncapped),
        "capped_cand_pairs" -> N(capped))
    }

  /** Txn append-vs-rewrite point: a fixed shard lands in a table of
    * growing size, once as [[Txn.commitAppend]] (manifest extension —
    * cost must stay FLAT, O(shard)) and once as a full-snapshot
    * [[Txn.commit]] of the grown table (cost must grow LINEARLY,
    * O(table)). Also times the CDC read of the append step (file-level
    * fast path — flat) at each scale. */
  private def txnAppendCurve(c: Ctx): String = {
    val shard = orderRows(c)
    val nShard = shard.count()
    corpora(c, s"fixed $nShard-row shard into a table grown nx: commitAppend (manifest extension, O(shard)) vs full-snapshot commit of the grown table (O(table)); cdc_read_sec = changes() over the append step (file-level fast path). The gap at the top multiplier is ingest-into-100TB vs rewrite-100TB-per-shard",
      "shard_rows" -> nShard) { m =>
      val base = grown(m)(k =>
        shard.withColumn("o_orderkey", col("o_orderkey") + lit(k * 10000000L)))
      val root = s"/tmp/graft_txnapp_x$m"
      minOfPasses(c) { _ =>
        rmrf(c.spark, root)
        Txn.commit(base, root)
        val append = secs(Txn.commitAppend(
          shard.withColumn("o_orderkey", col("o_orderkey") + lit(900000000L)), root))
        val cdc = secs(Txn.changes(c.spark, root, 1L, 2L).count())
        // the rewrite alternative: commit the WHOLE grown table again
        val rewrite = secs(Txn.commit(Txn.read(c.spark, root), root))
        val n = Txn.read(c.spark, root).count()
        rmrf(c.spark, root)
        Seq("table_rows" -> N(n), "append_sec" -> append, "rewrite_sec" -> rewrite,
          "cdc_read_sec" -> cdc)
      }
    }
  }

  /** Txn tombstone-delete point: a fixed 1000-key erasure against a
    * table grown n×, once as a tombstone commit (O(keys) — flat) and
    * once as the rewrite alternative (full commit of read().anti-join —
    * O(table), linear). Also times the post-tombstone READ (the
    * anti-join tax every reader pays until compaction). */
  private def txnDeleteCurve(c: Ctx): String = {
    val shard = orderRows(c)
    val keys = shard.where(col("o_orderkey") % 150 === 0).select("o_orderkey")
    corpora(c, "fixed 1000-key erasure against a table grown nx: commitDelete (tombstone entry, O(keys)) vs the rewrite alternative (full commit of the anti-joined table, O(table)); folded_read_sec is the per-read anti-join tax a tombstoned version carries until compaction") { m =>
      val base = grown(m)(k =>
        shard.withColumn("o_orderkey", col("o_orderkey") + lit(k * 10000000L)))
      val root = s"/tmp/graft_txndel_x$m"
      minOfPasses(c) { _ =>
        rmrf(c.spark, root)
        Txn.commit(base, root)
        val n = Txn.read(c.spark, root).count()
        val tomb = secs(Txn.commitDelete(c.spark, root, Seq("o_orderkey"), keys))
        val read = secs(Txn.read(c.spark, root).count())
        // the rewrite alternative a tombstone-less layer would need
        val rewrite = secs(Txn.commit(Txn.readVersion(c.spark, root, 1L)
          .join(keys, Seq("o_orderkey"), "left_anti"), root))
        rmrf(c.spark, root)
        Seq("table_rows" -> N(n), "tombstone_sec" -> tomb, "folded_read_sec" -> read,
          "rewrite_sec" -> rewrite)
      }
    }
  }

  /** UPSERT economics: a FIXED update batch (≈1k updates + 1k inserts)
    * lands in a table grown n× — [[Txn.commitUpsert]] (one
    * tombstone+dir manifest extension, O(batch)), the per-read
    * anti-join tax that choice accrues, and the MERGE-rewrite
    * alternative (full commit of the anti-joined base + batch,
    * O(table)). Upsert commit time is FLAT in table size while the
    * rewrite is linear. */
  private def upsertCurve(c: Ctx): String = {
    val shard = orderRows(c)
    val batch = shard.where(col("o_orderkey") % 150 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .unionByName(shard.where(col("o_orderkey") % 151 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(900000000L)))
    corpora(c, "fixed ~2k-row upsert batch (updates + inserts) into a table grown nx: commitUpsert (one tombstone+dir manifest extension, O(batch)) vs the MERGE-rewrite alternative (anti-join + full commit, O(table)); folded_read_sec is the per-read anti-join tax until compaction") { m =>
      val base = grown(m)(k =>
        shard.withColumn("o_orderkey", col("o_orderkey") + lit(k * 10000000L)))
      val root = s"/tmp/graft_txnups_x$m"
      minOfPasses(c) { _ =>
        rmrf(c.spark, root)
        Txn.commit(base, root)
        val n = Txn.read(c.spark, root).count()
        val nBatch = batch.count()
        val upsert = secs(Txn.commitUpsert(batch, root, "o_orderkey"))
        val read = secs(Txn.read(c.spark, root).count())
        // the MERGE-rewrite alternative: anti-join the base, re-add the
        // batch, commit the whole table
        val rewrite = secs(Txn.commit(Txn.readVersion(c.spark, root, 1L)
          .join(batch.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
          .unionByName(batch), root))
        rmrf(c.spark, root)
        Seq("table_rows" -> N(n), "batch_rows" -> N(nBatch), "upsert_sec" -> upsert,
          "folded_read_sec" -> read, "merge_rewrite_sec" -> rewrite)
      }
    }
  }

  /** BLOOM point-skipping economics: a table clustered by o_custkey
    * grown n× (file count grows with the table), per-file bloom
    * sidecars on the UNCLUSTERED o_orderkey; a fixed 8-key point probe
    * measured three ways — files kept by the bloom vs total (min/max
    * keeps ~all), [[Txn.readPoint]] wall time, and the full-scan filter
    * alternative. The kept-file fraction FALLS as the table grows. */
  private def bloomCurve(c: Ctx): String = {
    val shard = orderRows(c)
    val probes = shard.where(col("o_orderkey") % 4999 === 0)
      .select("o_orderkey").orderBy("o_orderkey").limit(8)
      .collect().map(_.getLong(0)).toSeq
    corpora(c, "table clustered by o_custkey grown nx with per-file bloom sidecars on the UNCLUSTERED o_orderkey; fixed 8-key point probe: files_kept/files_total is the bloom skipping decision (min/max keeps ~all files for an unclustered key). The CLAIM is files_kept staying ~constant as files_total grows nx -- at 100 TB that is 6 file opens vs 400; local wall times tie because the page cache hides the IO a cluster would pay") { m =>
      // each replica shifts BOTH keys: custkey so the clustering keeps
      // spreading across files, orderkey so the probe keys stay unique
      val base = grown(m)(k =>
        shard.withColumn("o_custkey", col("o_custkey") + lit(k * 10000000L))
          .withColumn("o_orderkey", col("o_orderkey") + lit(k * 10000000L)))
      val root = s"/tmp/graft_txnbloom_x$m"
      minOfPasses(c) { _ =>
        rmrf(c.spark, root)
        val build = secs(Txn.commit(
          base.repartitionByRange(8 * m, col("o_custkey"))
            .sortWithinPartitions("o_custkey"),
          root, statsCols = Seq("o_custkey"), bloomCols = Seq("o_orderkey"),
          bloomBits = 1 << 18))
        val ((kept, total, hits), point) = timed {
          val (kept, total) = Txn.probeFiles(c.spark, root, "o_orderkey", probes)
          (kept, total, Txn.readPoint(c.spark, root, "o_orderkey", probes).count())
        }
        val scan = secs(Txn.read(c.spark, root)
          .where(col("o_orderkey").isin(probes: _*)).count())
        rmrf(c.spark, root)
        Seq("files_kept" -> N(kept), "files_total" -> N(total), "probe_hits" -> N(hits),
          "build_sec" -> build, "point_read_sec" -> Sec(point), "full_scan_sec" -> scan)
      }
    }
  }

  /** PARTITION-PRUNING economics: the table grows n× by adding YEARS
    * (replica k shifts o_year by +100k — new partitions of constant
    * size), and a fixed one-year query runs via
    * [[Txn.readPartitionPruned]] (opens 1 partition dir) vs the
    * full-scan filter. Partition-read cost tracks PARTITION size while
    * the scan is linear. */
  private def partitionCurve(c: Ctx): String = {
    val shard = ordersByYear(c)
    corpora(c, "table grown nx by ADDING years (new partitions of constant size -- the time-partitioned ingest shape); fixed one-year query: readPartitionPruned opens dirs_kept of dirs_total partition dirs straight off the directory listing (no sidecar). The claim is pruned_read_sec flat in table size (tracks the partition, 1/nx of the table) vs the full scan linear") { m =>
      val base = grown(m)(k =>
        shard.withColumn("o_year", col("o_year") + lit(k * 100L))
          .withColumn("o_orderkey", col("o_orderkey") + lit(k * 10000000L)))
      val root = s"/tmp/graft_txnpart_x$m"
      minOfPasses(c) { _ =>
        rmrf(c.spark, root)
        val build = secs(Txn.commit(base, root, partitionBy = Some("o_year")))
        val ((kept, total, hits), pruned) = timed {
          val (kept, total) = Txn.partitionProbe(c.spark, root, "o_year", Seq(1995L))
          (kept, total,
            Txn.readPartitionPruned(c.spark, root, "o_year", Seq(1995L)).count())
        }
        val scan = secs(Txn.read(c.spark, root).where(col("o_year") === 1995L).count())
        rmrf(c.spark, root)
        Seq("dirs_kept" -> N(kept), "dirs_total" -> N(total), "year_rows" -> N(hits),
          "build_sec" -> build, "pruned_read_sec" -> Sec(pruned), "full_scan_sec" -> scan)
      }
    }
  }

  /** TWO-RUNG skipping economics: partition-dir pruning COMPOSED with
    * file-stats skipping inside the kept partitions. The table grows
    * n× by adding YEARS; within every year the data is range-laid-out
    * by o_custkey into ~16 files. A fixed one-year, narrow-custkey
    * query reads via [[Txn.readPartitionFilePruned]] (both rungs),
    * [[Txn.readPartitionPruned]] + residual (directory rung only) and
    * a full scan. `two_level` lays the same corpus out year=…/src=…
    * and probes (year, src): non-matching year SUBTREES are never
    * listed, so dirs_kept stays FLAT at 2 while the leaves grow. */
  private def partSkipCurve(c: Ctx): String = {
    val shard = ordersByYear(c)
    val (cLo, cHi) = (1000L, 2000L) // fixed narrow customer range
    corpora(c, "year-partitioned table grown nx by adding years, each year range-laid-out by o_custkey into ~16 files with per-partition _stats.tsv sidecars; fixed one-year narrow-custkey query. Two rungs compose: dirs_kept/dirs_total is the directory rung (flat 1 vs nx), files_kept/files_in_kept_dirs the file rung inside the kept year (~2 of ~16). two_level (r13): the same corpus as a NESTED year=/src= layout probed on (year, src) — dirs_kept counts PER-LEVEL listing decisions and stays FLAT at 2 (1 year subtree listed of 7m, then 1 src dir of 4) while leaves grow 28m; dropped year subtrees are never listed at all. At 100 TB the product is the point-query read path (partition -> file -> row); local wall times can tie because the page cache hides the file opens the counts gate",
      "probe" -> s"""{"year":1995,"custkey_lo":$cLo,"custkey_hi":$cHi,"two_level_src":"s1"}""") { m =>
      val base = grown(m)(k =>
        shard.withColumn("o_year", col("o_year") + lit(k * 100L))
          .withColumn("o_orderkey", col("o_orderkey") + lit(k * 10000000L)))
      val root = s"/tmp/graft_txnpartskip_x$m"
      val flat = minOfPasses(c) { _ =>
        rmrf(c.spark, root)
        // range layout on o_custkey: each of the 16 range tasks writes
        // one distinct-custkey-range file into every year dir it holds
        val build = secs(Txn.commit(
          base.repartitionByRange(16, col("o_custkey"))
            .sortWithinPartitions("o_custkey"),
          root, partitionBy = Some("o_year"), statsCols = Seq("o_custkey")))
        val (((dk, dt, fk, fit), hits), twoRung) = timed {
          (Txn.partitionFileProbe(c.spark, root, "o_year", Seq(1995L),
            "o_custkey", cLo, cHi),
            Txn.readPartitionFilePruned(c.spark, root, "o_year",
              Seq(1995L), "o_custkey", cLo, cHi).count())
        }
        val dirRung = secs(Txn.readPartitionPruned(c.spark, root, "o_year", Seq(1995L))
          .where(col("o_custkey").between(cLo, cHi)).count())
        val scan = secs(Txn.read(c.spark, root).where(col("o_year") === 1995L &&
          col("o_custkey").between(cLo, cHi)).count())
        rmrf(c.spark, root)
        Seq("dirs_kept" -> N(dk), "dirs_total" -> N(dt), "files_kept" -> N(fk),
          "files_in_kept_dirs" -> N(fit), "hits" -> N(hits), "build_sec" -> build,
          "two_rung_sec" -> Sec(twoRung), "dir_rung_sec" -> dirRung,
          "full_scan_sec" -> scan)
      }
      val root2 = s"/tmp/graft_txnpartskip2_x$m"
      val twoLevel = minOfPasses(c) { _ =>
        rmrf(c.spark, root2)
        Txn.commit(
          base.withColumn("o_src", concat(lit("s"), (col("o_custkey") % 4).cast("string")))
            .repartition(col("o_year"), col("o_src")),
          root2, partitionBy = Some("o_year,o_src"))
        val ((kept, total, dirsKept, dirsTotal, hits), t) = timed {
          val (frame, kept, total, dirsKept, dirsTotal) =
            Txn.readSqlPruned(c.spark, root2, Txn.currentVersion(c.spark, root2).get,
              Seq(Txn.PartProbe("o_year", Seq(1995L)), Txn.PartProbe("o_src", Seq("s1"))))
          (kept, total, dirsKept, dirsTotal, frame.count())
        }
        rmrf(c.spark, root2)
        Seq("dirs_kept" -> N(dirsKept), "dirs_total" -> N(dirsTotal),
          "files_kept" -> N(kept), "files_total" -> N(total), "hits" -> N(hits),
          "sec" -> Sec(t))
      }
      flat :+ ("two_level" -> Obj(twoLevel))
    }
  }

  /** SQL file-skipping economics: a fixed 4-key point probe through
    * pasted SQL against an INDEXED table (range-clustered, stats+bloom
    * sidecars) grown n× — kept/total files from the scan decision plus
    * wall time, vs the same query on an unindexed control table. Kept
    * stays ~constant while total grows linearly. */
  private def sqlSkipCurve(c: Ctx): String = {
    val spark = c.spark
    val shard = orders(c).select("o_orderkey", "o_custkey", "o_totalprice")
    val nShard = shard.count()
    val probes = "19, 365, 746, 1138" // keys only the ORIGINAL shard holds
    corpora(c, s"fixed 4-key SQL point probe (IN list on the clustered column) against an indexed table grown nx ($nShard-row shard, replica keys shifted so probes match only the original): files_kept stays ~flat while files_total grows linearly -- the kept FRACTION is the claim (local wall times tie because the page cache hides the IO the skipped footers would cost; at 100 TB files opened IS the latency). Unindexed control answers identically (one-sided contract, checked per pass)",
      "shard_rows" -> nShard) { m =>
      // shift EVERY key column a probe touches (the scale-curve trap)
      val base = grown(m)(k =>
        shard.withColumn("o_custkey", col("o_custkey") + lit(k * 100000000L))
          .withColumn("o_orderkey", col("o_orderkey") + lit(k * 100000000L)))
      val catName = s"gsbs$m"
      val catRoot = s"/tmp/graft_sqlskip_x${m}_cat"
      def tableRoot(t: String) = s"/tmp/graft_sqlskip_x${m}_$t"
      rmrf(spark, catRoot, tableRoot("idx"), tableRoot("ctl"))
      val clustered = base.repartitionByRange(16 * m, col("o_custkey"))
      Txn.commit(clustered, tableRoot("idx"),
        statsCols = Seq("o_custkey"), bloomCols = Seq("o_custkey"))
      Txn.commit(clustered, tableRoot("ctl"))
      withCatalog(spark, catName, catRoot) {
        Seq("idx", "ctl").foreach(t => GraftCatalog.create(spark, catRoot, t, tableRoot(t)))
        def probe(t: String): Long = spark.sql(s"SELECT count(*) AS n FROM $catName.$t " +
          s"WHERE o_custkey IN ($probes)").head().getLong(0)
        val timings = minOfPasses(c) { _ =>
          val (nIdx, idx) = timed(probe("idx"))
          val (nCtl, ctl) = timed(probe("ctl"))
          require(nIdx == nCtl, s"skipping changed results: $nIdx vs $nCtl")
          Seq("sql_indexed_sec" -> Sec(idx), "sql_unindexed_sec" -> Sec(ctl))
        }
        // the indexed query's own scan decision
        graft.catalog.GraftScanStats.reset()
        probe("idx")
        val d = graft.catalog.GraftScanStats.lastDecision.get
        Seq("files_kept" -> N(d.filesKept), "files_total" -> N(d.filesTotal)) ++ timings
      }
    }
  }

  /** SQL MERGE economics: a FIXED merge batch (every 97th customer
    * updated + 200 new keys) into a table grown n×, once against a
    * DECLARED-KEY table (delta row-level path: tombstone+rows manifest
    * extension) and once against a keyless one (group-based COW:
    * full-table rewrite), plus the post-merge full read on the keyed
    * table — the anti-join tax a delta chain accrues until compaction.
    * Write bytes are the claim: delta O(batch), COW O(table). */
  private def sqlMergeCurve(c: Ctx): String = {
    val spark = c.spark
    val shard = spark.read.parquet(s"${c.baseDir}/customer.parquet")
      .select(col("c_custkey").as("custkey"), col("c_acctbal").as("bal"),
        col("c_mktsegment").as("seg"))
    val nShard = shard.count()
    corpora(c, s"fixed MERGE batch (1-in-97 updates + 200 inserts from a $nShard-row shard) into a table grown nx through pasted SQL: declared-key table takes the delta row-level path (ONE tombstone+rows manifest extension, history op asserted sql-merge-delta) vs keyless group-based COW (full rewrite). keyed_read_sec = post-merge full count on the keyed table (the anti-join tax until compaction). write_bytes is the construction-level claim (old snapshots are immutable, so root growth = bytes the merge wrote): delta writes O(batch) regardless of table size while cow rewrites the table — local WALL times tie because the shared target-scan join dominates at page-cached local scale; at 100 TB the write volume is the cost. The UPSERT_r11 economics, now reachable from SQL",
      "shard_rows" -> nShard) { m =>
      // replica keys SHIFTED so the fixed merge batch matches exactly
      // once regardless of the multiplier (the scale-curve trap note)
      val base = grown(m)(k =>
        shard.withColumn("custkey", col("custkey") + lit(k * 100000000L)))
      minOfPasses(c) { p =>
        val catName = s"gsbm${m}p$p"
        val catRoot = s"/tmp/graft_sqlmerge_x${m}_p$p"
        rmrf(spark, catRoot)
        val fields = withCatalog(spark, catName, catRoot) {
          base.createOrReplaceTempView("sqlmerge_base")
          spark.sql(s"CREATE TABLE $catName.keyed " +
            "TBLPROPERTIES ('graft.key' = 'custkey') AS " +
            "SELECT * FROM sqlmerge_base")
          spark.sql(s"CREATE TABLE $catName.cow AS SELECT * FROM sqlmerge_base")
          def merge(t: String) = spark.sql(
            s"""MERGE INTO $catName.$t t USING (
               |  SELECT custkey AS k, bal * 2 AS nb
               |  FROM sqlmerge_base
               |  WHERE custkey % 97 = 0 AND custkey < 100000000
               |  UNION ALL
               |  SELECT custkey + 900000000000L, bal FROM sqlmerge_base
               |  WHERE custkey <= 200
               |) s ON t.custkey = s.k
               |WHEN MATCHED THEN UPDATE SET bal = s.nb
               |WHEN NOT MATCHED THEN INSERT (custkey, bal, seg)
               |  VALUES (s.k, s.nb, 'NEW')""".stripMargin)
          val keyedRoot = GraftCatalog.resolve(spark, catRoot, "keyed")
          val cowRoot = GraftCatalog.resolve(spark, catRoot, "cow")
          val (kb0, cb0) = (rootBytes(spark, keyedRoot), rootBytes(spark, cowRoot))
          val delta = secs(merge("keyed"))
          val cow = secs(merge("cow"))
          val (deltaBytes, cowBytes) =
            (rootBytes(spark, keyedRoot) - kb0, rootBytes(spark, cowRoot) - cb0)
          val (n, read) = timed(
            spark.sql(s"SELECT count(*) AS n FROM $catName.keyed").head().getLong(0))
          // the delta path must actually have fired — measured, not assumed
          require(Txn.history(spark, GraftCatalog.resolve(spark, catRoot, "keyed"))
            .last._3("op") == "sql-merge-delta", "keyed MERGE did not take the delta path")
          Seq("table_rows" -> N(n), "delta_merge_sec" -> delta, "cow_merge_sec" -> cow,
            "keyed_read_sec" -> Sec(read), "delta_write_bytes" -> N(deltaBytes),
            "cow_write_bytes" -> N(cowBytes))
        }
        rmrf(spark, catRoot)
        fields
      }
    }
  }

  /** PARTITION-OVERWRITE write volume: a year-partitioned SQL table
    * grown m× (years shifted so partition count grows linearly), then
    * ONE year refreshed three ways — static `INSERT OVERWRITE …
    * PARTITION (yr=…)`, dynamic-mode `INSERT OVERWRITE` whose batch
    * holds only that year, and the whole-table replace. Both partition
    * forms' WRITE BYTES stay FLAT while the full replace grows with the
    * table, and untouched partitions' FILES are untouched (inputFiles
    * asserted per pass). */
  private def overwriteCurve(c: Ctx): String = {
    val spark = c.spark
    val shard = orders(c).select(col("o_orderkey").as("okey"),
      col("o_totalprice").as("price"), year(col("o_orderdate")).cast("long").as("yr"))
    corpora(c, "year-partitioned SQL table grown nx (partitions grow linearly), ONE year refreshed three ways: static INSERT OVERWRITE PARTITION, dynamic-mode INSERT OVERWRITE (only the touched partitions replace, via one manifest extension whose tombstones come from the new dirs' leaf listing), and the whole-table replace. static/dynamic write_bytes stay FLAT (one partition's data) while full grows with the table; inputFiles of an untouched year asserted IDENTICAL across both partition overwrites per pass. At 100 TB the flat forms are the daily-refresh path; the linear form is what every refresh would cost without them") { m =>
      val base = grown(m)(k =>
        shard.withColumn("yr", col("yr") + lit(k * 100L))
          .withColumn("okey", col("okey") + lit(k * 10000000L)))
      minOfPasses(c) { p =>
        val catName = s"gsbo${m}p$p"
        val catRoot = s"/tmp/graft_overwrite_x${m}_p$p"
        rmrf(spark, catRoot)
        val fields = withCatalog(spark, catName, catRoot) {
          base.createOrReplaceTempView("ow_base")
          spark.sql(s"CREATE TABLE $catName.part " +
            "(okey BIGINT, price DOUBLE, yr BIGINT) PARTITIONED BY (yr)")
          spark.sql(s"INSERT INTO $catName.part SELECT okey, price, yr FROM ow_base")
          val nParts = spark.sql(
            s"SELECT count(DISTINCT yr) AS n FROM $catName.part").head().getLong(0)
          val root = GraftCatalog.resolve(spark, catRoot, "part")
          // the untouched-partition witness: the exact file paths the
          // CURRENT version reads for a year the overwrites never touch
          def filesOf(yr: Long): Set[String] =
            spark.sql(s"SELECT * FROM $catName.part WHERE yr = $yr").inputFiles.toSet
          val before1996 = filesOf(1996L)
          val b0 = rootBytes(spark, root)
          val static = secs(spark.sql(s"INSERT OVERWRITE $catName.part PARTITION (yr=1995) " +
            "SELECT okey, price * 2 FROM ow_base WHERE yr = 1995"))
          val b1 = rootBytes(spark, root)
          spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          val dynamic = secs(spark.sql(s"INSERT OVERWRITE $catName.part " +
            "SELECT okey, price * 3, yr FROM ow_base WHERE yr = 1995"))
          spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
          val b2 = rootBytes(spark, root)
          require(filesOf(1996L) == before1996,
            "partition overwrite touched files of an un-overwritten partition")
          val full = secs(spark.sql(s"INSERT OVERWRITE $catName.part " +
            "SELECT okey, price, yr FROM ow_base"))
          val b3 = rootBytes(spark, root)
          Seq("partitions" -> N(nParts), "static_sec" -> static, "dynamic_sec" -> dynamic,
            "full_sec" -> full, "static_write_bytes" -> N(b1 - b0),
            "dynamic_write_bytes" -> N(b2 - b1), "full_write_bytes" -> N(b3 - b2))
        }
        rmrf(spark, catRoot)
        fields
      }
    }
  }

  /** STREAMING-SOURCE BACKLOG drain: a graft table with an m-scaled
    * initial snapshot and an m-scaled version backlog drains through a
    * RATE-LIMITED stream (`maxFilesPerTrigger=4`,
    * `maxVersionsPerTrigger=1`) vs the unlimited source. The bounded
    * stream's MAX micro-batch stays FLAT while the backlog grows m× —
    * every batch is individually checkpointed, so a failure mid-drain
    * loses one bounded batch; the unlimited form's single batch grows
    * linearly. Every pass rebuilds the table, so each pass drains the
    * same backlog. */
  private def streamBacklogCurve(c: Ctx): String = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val spark = c.spark
    // checkpointed, not cached: every pass starts from an empty cache
    val shard = orders(c).select(col("o_orderkey").as("id"), col("o_totalprice").as("v"))
      .limit(20000).localCheckpoint()
    val unit = shard.limit(5000).localCheckpoint()
    // per-batch input sizes via the listener — recentProgress caps out
    val batchRows = scala.collection.mutable.ArrayBuffer.empty[Long]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        batchRows.synchronized {
          if (e.progress.numInputRows > 0) batchRows += e.progress.numInputRows
        }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    /** (max batch rows, batches, wall seconds) of one drain to a parquet sink. */
    def drain(root: String, ckpt: String, out: String,
        opts: Map[String, String]): (Long, Int, Double) = {
      batchRows.synchronized(batchRows.clear())
      val (_, wall) = timed {
        val q = spark.readStream.format("graft").options(opts).load(root)
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .start()
        q.processAllAvailable()
        q.stop()
      }
      val rows = batchRows.synchronized(batchRows.toSeq)
      (if (rows.isEmpty) 0L else rows.max, rows.size, wall)
    }
    def tmp(prefix: String) = Files.createTempDirectory(prefix).toString
    val bounded = Map("maxFilesPerTrigger" -> "4", "maxVersionsPerTrigger" -> "1")
    spark.streams.addListener(listener)
    try corpora(c, "graft streaming source rate limiting (r13): table = 4m uniform ~5000-row files, then a 3m-version backlog lands while the stream is DOWN. snapshot = the bounded initial-snapshot drain from a fresh checkpoint (maxFilesPerTrigger=4): max micro-batch FLAT at ~4 files' rows while the snapshot grows m-fold, every chunk checkpointed via sub-version offsets; catchup = the SAME checkpoint resuming over the backlog (maxVersionsPerTrigger=1): max batch FLAT at one version's rows while the backlog grows m-fold; unlimited = the r12 behavior, ONE batch of everything, growing linearly - the shape that loses all progress on failure. Local walls favor fewer micro-batch roundtrips at page-cached scale; the claim is the bounded max-batch row counts") { m =>
      val root = s"/tmp/graft_sbk_x$m/t"
      minOfPasses(c) { _ =>
        rmrf(spark, s"/tmp/graft_sbk_x$m")
        // initial snapshot: 4m uniform files
        Txn.commit(grown(m)(k =>
          unit.select((col("id") + lit(k * 1000000L)).as("id"), col("v")))
          .repartition(4 * m), root)
        // phase 1: the bounded INITIAL SNAPSHOT drain (fresh checkpoint);
        // the file sink pins its _spark_metadata to the checkpoint, so
        // the catch-up drain reuses the SAME output dir
        val (ckpt, outDir) = (tmp("sbk_ck"), tmp("sbk_out"))
        val (sm, sb, sw) = drain(root, ckpt, outDir, bounded)
        // phase 2: a 3m-version backlog lands while the stream is DOWN,
        // then the SAME checkpoint catches up one version per batch
        (1 to 3 * m).foreach { k =>
          Txn.commitAppend(unit.select(
            (col("id") + lit((1000 + k) * 1000000L)).as("id"), col("v"))
            .coalesce(1), root)
        }
        val (cm, cb, cw) = drain(root, ckpt, outDir, bounded)
        // the r12 shape: everything in ONE unbounded batch
        val (um, _, uw) = drain(root, tmp("sbk_cku"), tmp("sbk_outu"), Map.empty)
        Seq("snapshot_max_batch_rows" -> N(sm), "snapshot_batches" -> N(sb),
          "snapshot_wall_sec" -> Sec(sw), "catchup_max_batch_rows" -> N(cm),
          "catchup_batches" -> N(cb), "catchup_wall_sec" -> Sec(cw),
          "unlimited_max_batch_rows" -> N(um), "unlimited_wall_sec" -> Sec(uw))
      }
    } finally spark.streams.removeListener(listener)
  }

  /** CLONE economics: shallow-clone a table grown n× vs the deep-copy
    * alternative (a full [[Txn.commit]] of `read(src)` into the new
    * root). cloneTable is O(manifest) — FLAT milliseconds regardless of
    * table size — while the deep copy is O(table); the first read from
    * the clone costs what reading the source costs (same files). */
  private def cloneCurve(c: Ctx): String = {
    val shard = orderRows(c)
    corpora(c, "shallow clone of a table grown nx vs the deep-copy alternative (full commit of read(src)): cloneTable is O(manifest) -- flat milliseconds at any table size (the free dev/test branch) -- while deep copy is O(table); first_read_sec shows the clone read costs what reading the source costs (same files)") { m =>
      val base = grown(m)(k =>
        shard.withColumn("o_orderkey", col("o_orderkey") + lit(k * 10000000L)))
      val Seq(src, dst, deep) = Seq("src", "dst", "deep").map(t => s"/tmp/graft_txnclone_${t}_x$m")
      minOfPasses(c) { _ =>
        rmrf(c.spark, src, dst, deep)
        Txn.commit(base, src)
        val n = Txn.read(c.spark, src).count()
        val clone = secs(Txn.cloneTable(c.spark, src, dst))
        val read = secs(Txn.read(c.spark, dst).count())
        val deepCopy = secs(Txn.commit(Txn.read(c.spark, src), deep))
        rmrf(c.spark, src, dst, deep)
        Seq("table_rows" -> N(n), "clone_sec" -> clone.copy(digits = 3),
          "first_read_sec" -> read, "deep_copy_sec" -> deepCopy)
      }
    }
  }
}

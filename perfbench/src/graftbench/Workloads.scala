package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.api.{AnnApi, DedupApi, TextApi}

/** A workload generates its inputs from the seed, warms up, and then hands
  * the closed loop one unit of operations at a time (a query pass, a corpus
  * batch, a serve). `setup` and `warmup` make up one timed set-up; after the
  * last set-up the harness repeats `prewarm` units, untimed, until the JIT
  * has compiled the measured code paths; `check` runs after the loop,
  * untimed. */
trait Workload {
  def setup(h: Harness, dir: String): Unit
  def warmup(h: Harness): Unit
  def prewarm(h: Harness, i: Int): Unit
  def unit(h: Harness, u: Int): Seq[Op]
  def check(h: Harness): Unit

  protected def tiny(opts: Opts): Boolean = opts.scale == "tiny"

  protected def recordInputs(h: Harness, tables: Seq[Table], dir: String): Unit = {
    val digests = h.info.getOrElse("input_digests", Vector.empty[String])
      .asInstanceOf[Vector[String]]
    h.info("input_digests") = digests :+ Table.digestHex(tables)
    h.info("input_rows") = tables.map(_.rows.size.toLong).sum
    h.info("input_bytes") = Workload.bytesUnder(new File(dir))
  }
}

object Workload {
  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(bytesUnder).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) f.length else 0L
}

/** TPC-H, ClickBench and JOB registry queries over freshly generated
  * TPC-H-shaped tables; each pass runs every query once in a seeded order. */
final class Olap(opts: Opts) extends Workload {
  val Queries: Seq[String] =
    Seq("q1", "q3", "q5", "q18", "q21", "cb_h2o_gb", "cb_funnel", "job_1a")
  private var dir: String = _
  private def resultDir(q: String) = s"${opts.out}/results/$q"

  def setup(h: Harness, dir: String): Unit = {
    this.dir = dir
    val tables = Gen.relational(new Rng(opts.seed), if (tiny(opts)) 0.01 else 0.1)
    tables.foreach(_.write(h.spark, dir))
    recordInputs(h, tables, dir)
  }

  /** One pass that also writes each result for the DuckDB oracle check. */
  def warmup(h: Harness): Unit = Queries.foreach { q =>
    SparkEntry.queries(q)(h.spark, dir).write.mode("overwrite").parquet(resultDir(q))
  }

  def prewarm(h: Harness, i: Int): Unit = Queries.foreach { q =>
    h.runUntimed(Op(q, "query", () => SparkEntry.queries(q)(h.spark, dir)))
  }

  def unit(h: Harness, u: Int): Seq[Op] =
    new scala.util.Random(opts.seed * 1000003L + u).shuffle(Queries).map { q =>
      Op(q, "query", () => SparkEntry.queries(q)(h.spark, dir))
    }

  /** The comparison itself runs in DuckDB outside the JVM; this records
    * what it needs. */
  def check(h: Harness): Unit = {
    val sql = SparkEntry.oracleSql
    h.info("oracle") = Json.Obj("data_dir" -> dir,
      "queries" -> Queries.map(q => Json.Obj("name" -> q, "sql" -> sql(q),
        "result_dir" -> resultDir(q))))
  }
}

/** ScaleGen-shaped document batches through the text-quality and
  * near-duplicate APIs, in one long-lived session (nothing clears caches). */
final class Corpus(opts: Opts) extends Workload {
  private val docsPerBatch = if (tiny(opts)) 300 else 2000
  private val rng = new Rng(opts.seed)
  private var dir: String = _
  private val planted = mutable.Map.empty[Int, Seq[(Long, Long)]]
  private val batchOps = mutable.Map.empty[Int, Seq[Int]]
  val MinJaccard = 0.5

  private def path(b: Int) = s"$dir/docs_$b.parquet"

  private def generate(h: Harness, b: Int): Table = {
    val (t, p) = Gen.corpusBatch(rng, b, docsPerBatch)
    t.write(h.spark, dir)
    planted(b) = p
    t
  }

  /** Batch 0 is the warm-up batch; measured batches start at 1 and are
    * generated as the loop reaches them, outside the operation timings. */
  def setup(h: Harness, dir: String): Unit = {
    this.dir = dir
    recordInputs(h, Seq(generate(h, 0)), dir)
    h.info("docs_per_batch") = docsPerBatch
  }

  private def calls(docs: DataFrame): Seq[(String, () => DataFrame)] = Seq(
    "quality" -> (() => TextApi.quality(docs)),
    "gopher_filter" -> (() => TextApi.gopherFilter(docs)),
    "minhash_pairs" -> (() => DedupApi.minhashPairs(docs, MinJaccard)),
    "ngram_jaccard_pairs" -> (() => DedupApi.ngramJaccardPairs(docs, MinJaccard)),
    "near_dup_clusters" -> (() => DedupApi.nearDupClusters(docs, MinJaccard)))

  private def runBatch(h: Harness, b: Int): Unit = {
    val docs = h.spark.read.parquet(path(b))
    calls(docs).foreach { case (n, f) => h.runUntimed(Op(n, "call", f)) }
  }

  def warmup(h: Harness): Unit = runBatch(h, 0)

  /** One more batch, generated like the measured ones (which count from 1). */
  def prewarm(h: Harness, i: Int): Unit = { generate(h, 1000 + i); runBatch(h, 1000 + i) }

  def unit(h: Harness, u: Int): Seq[Op] = {
    val b = u + 1
    generate(h, b)
    val docs = h.spark.read.parquet(path(b))
    batchOps(b) = (0 until 5).map(h.ops.length + _)
    calls(docs).map { case (n, f) => Op(n, "call", f) }
  }

  /** One seeded measured batch is recomputed untimed: per-doc outputs have
    * a row per document, the persisted and unpersisted pair paths agree,
    * every planted exact copy is found, and the clusters equal the
    * connected components of the pairs computed here on the driver. */
  def check(h: Harness): Unit = {
    val measured = batchOps.keys.toSeq.sorted
    if (measured.isEmpty) return
    val b = measured(new scala.util.Random(opts.seed).nextInt(measured.length))
    val covers = batchOps(b)
    val docs = h.spark.read.parquet(path(b))
    h.check(s"batch$b.rows_per_doc", covers) {
      val q = TextApi.quality(docs).count(); val g = TextApi.gopherFilter(docs).count()
      (q == docsPerBatch && g == docsPerBatch, s"quality=$q gopher=$g docs=$docsPerBatch")
    }
    val exact = planted(b).filter { case (copy, _) => ((copy % 10000000L) / 20) % 2 == 0 }
    def pairSet(df: DataFrame): Set[(Long, Long)] = df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).map { case (a, c) => (a min c, a max c) }.toSet
    var minhash = Set.empty[(Long, Long)]
    for ((name, run) <- Seq[(String, Boolean => DataFrame)](
        "minhash_pairs" -> (p => DedupApi.minhashPairs(docs, MinJaccard, persistIntermediate = p)),
        "ngram_jaccard_pairs" -> (p => DedupApi.ngramJaccardPairs(docs, MinJaccard, persistIntermediate = p)))) {
      h.check(s"batch$b.$name", covers) {
        val persisted = pairSet(run(true)); val plain = pairSet(run(false))
        if (name == "minhash_pairs") minhash = plain
        val missing = exact.map { case (a, c) => (a min c, a max c) }.filterNot(plain)
        (persisted == plain && missing.isEmpty,
          s"pairs=${plain.size} persisted=${persisted.size} planted_exact=${exact.size} missing=${missing.size}")
      }
    }
    h.check(s"batch$b.near_dup_clusters", covers) {
      val got = DedupApi.nearDupClusters(docs, MinJaccard).collect()
        .groupBy(_.getAs[Long]("cluster_id")).values.map(_.map(_.getAs[Long]("doc_id")).toSet).toSet
      val want = Corpus.components(minhash)
      (got == want, s"clusters=${got.size} expected=${want.size}")
    }
  }
}

object Corpus {
  /** Connected components of an edge set, as sets of node ids. */
  def components(edges: Set[(Long, Long)]): Set[Set[Long]] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) => parent(find(a)) = find(b) }
    parent.keys.toSeq.groupBy(find).values.map(_.toSet).toSet
  }
}

/** A stored IVFADC index serving seeded 10-query batches, with a batch of
  * new vectors appended after every 10 serves. */
final class AnnMixed(opts: Opts) extends Workload {
  val Cells = 16; val Nprobe = 3; val Segments = 8; val Codebook = 16; val K = 10
  val QueriesPerServe = 10; val ServesPerAppend = 10; val DeltaSize = 50
  val RecallFloor = 0.1 // SimilaritySpec's IVFADC floor on random vectors
  private val nBase = if (tiny(opts)) 400 else 2000
  private val poolSize = if (tiny(opts)) 100 else 1000
  private val rng = new Rng(opts.seed)
  private var base: Table = _
  private var pool: Table = _
  private var index: String = _
  private var quantizer: DataFrame = _
  private var books: Array[Double] = _
  private val appended = mutable.ArrayBuffer.empty[(Table, Int)]
  private val serveQueries = mutable.ArrayBuffer.empty[(Int, Seq[Row])]

  private def frame(h: Harness, rows: Seq[Row]): DataFrame =
    h.spark.createDataFrame(java.util.Arrays.asList(rows: _*), base.schema)

  private def delta(n: Int): Table =
    Gen.vectors(rng, 300 + n, 2000000000L + n * 100000L, DeltaSize, s"delta_$n")

  def setup(h: Harness, dir: String): Unit = {
    index = s"$dir/ivfpq_index"
    base = Gen.vectors(rng, 100, 0L, nBase, "embeddings")
    pool = Gen.vectors(rng, 200, 1000000000L, poolSize, "queries")
    base.write(h.spark, dir)
    recordInputs(h, Seq(base, pool), dir)
    appended.clear(); serveQueries.clear()
    val t0 = System.nanoTime()
    val corpus = h.spark.read.parquet(s"$dir/embeddings.parquet")
    quantizer = AnnApi.trainIvf(corpus, Cells)
    books = AnnApi.trainPq(corpus, 64, Segments, Codebook)
    AnnApi.writeIndex(AnnApi.encodeIndex(corpus, quantizer, books, Segments), index)
    val builds = h.info.getOrElse("index_build_s", Vector.empty[Double]).asInstanceOf[Vector[Double]]
    h.info("index_build_s") = builds :+ (System.nanoTime() - t0) / 1e9
  }

  private def serve(h: Harness, rows: Seq[Row]): DataFrame =
    AnnApi.serveFromStore(frame(h, rows).select(col("vec_id").as("qid"), col("embedding").as("qv")),
      index, quantizer, books, Nprobe, Segments)

  private def draw(u: Int): Seq[Row] = {
    val r = new scala.util.Random(opts.seed * 7919L + u)
    Seq.fill(QueriesPerServe)(pool.rows(r.nextInt(poolSize))).distinct
  }

  /** `opId` is the append's index in the measured loop (-1: warm-up). */
  private def appendOp(h: Harness, n: Int, opId: Int): Op = {
    val d = delta(n)
    val df = frame(h, d.rows)
    appended += ((d, opId))
    Op("append", "append", () => null,
      _ => AnnApi.appendIndex(df, quantizer, books, index, Segments))
  }

  def warmup(h: Harness): Unit = {
    h.runUntimed(Op("serve", "serve", () => serve(h, draw(-1))))
    appendOp(h, 0, -1).execute(null)
  }

  /** A serve, and an append after every 10 serves, as in the loop. */
  def prewarm(h: Harness, i: Int): Unit = {
    h.runUntimed(Op("serve", "serve", () => serve(h, draw(-2 - i))))
    if (i % ServesPerAppend == ServesPerAppend - 1) appendOp(h, 1000 + i, -1).execute(null)
  }

  def unit(h: Harness, u: Int): Seq[Op] = {
    val rows = draw(u)
    serveQueries += ((h.ops.length, rows))
    val s = Op("serve", "serve", () => serve(h, rows))
    if (u % ServesPerAppend == ServesPerAppend - 1)
      Seq(s, appendOp(h, u / ServesPerAppend + 1, h.ops.length + 1))
    else Seq(s)
  }

  /** Untimed, against the final store: the queries of every measured serve
    * are served again in one call (a query's result does not depend on the
    * other queries of its batch), each must get k rows, and their pooled
    * recall against exact top-k over every stored vector must meet
    * SimilaritySpec's IVFADC floor. Each append's ids must all be stored
    * and must retrieve themselves. */
  def check(h: Harness): Unit = {
    val all = frame(h, base.rows ++ appended.flatMap(_._1.rows))
    val queries = serveQueries.flatMap(_._2).distinct.toSeq
    h.check("serves.k_rows_and_recall", serveQueries.map(_._1).toSeq) {
      val byQ = serve(h, queries).collect().groupBy(_.getAs[Long]("qid"))
      val truth = AnnApi.bruteTopK(all, frame(h, queries), K, queryId = "vec_id",
          queryVec = "embedding").collect()
        .groupBy(_.getAs[Long]("qid")).map { case (q, rs) => q -> rs.map(_.getAs[Long]("vid")).toSet }
      val recall = truth.map { case (q, t) =>
        byQ.getOrElse(q, Array.empty[Row]).map(_.getAs[Long]("vid")).count(t).toDouble / t.size
      }.sum / truth.size
      val kRows = byQ.size == queries.size && byQ.values.forall(_.length == K)
      (kRows && recall >= RecallFloor,
        f"queries=${byQ.size}/${queries.size} k_rows=$kRows recall=$recall%.3f floor=$RecallFloor")
    }
    // two Spark calls for all appends (evaluated inside the first check, so
    // that an error fails the checks): the stored rows of appended ids, and
    // the appended vectors that retrieve themselves from the store
    val added = appended.flatMap(_._1.rows).toSeq
    lazy val stored = h.spark.read.parquet(index)
      .filter(col("vec_id").isin(added.map(_.getLong(0)): _*))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    lazy val self = serve(h, added).filter(col("qid") === col("vid"))
      .select("qid").collect().map(_.getLong(0)).toSet
    appended.foreach { case (d, opId) =>
      h.check(s"append$opId.ids_servable", Seq(opId).filter(_ >= 0)) {
        val mine = d.rows.map(_.getLong(0))
        val present = stored.count(mine.toSet); val found = mine.count(self)
        (present == mine.size && found >= 0.9 * mine.size,
          s"stored=$present/${mine.size} self_retrieved=$found")
      }
    }
  }
}

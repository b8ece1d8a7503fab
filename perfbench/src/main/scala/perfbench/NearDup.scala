package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.expressions.GraftFunctions
import graft.ops.Dedup

/** An extraction-output-shaped `documents` table with planted near-duplicate
  * clusters of known membership.
  *
  * Text is drawn from a Zipf-distributed synthetic vocabulary, so background
  * documents share common word 4-grams by chance (many shingles have
  * df >= 2, a few frequent ones exceed the df cap). Each planted cluster is
  * one original text plus copies with words deleted, so the original is the
  * cluster's strictly longest and therefore best member by `n_chars`. Most
  * copies lose one or two words (4-gram Jaccard with the original about
  * 0.86 to 0.95); [[NearShare]] of them are edited down to just above the
  * 0.8 threshold, and [[DecoyShare]] of the clusters get a decoy edited to
  * just below it, which must stay a singleton. Two copies may fall below
  * the threshold with each other, so clusters are stars around the original
  * rather than cliques.
  *
  * Cluster sizes are heavy-tailed (2 to 100, under the default
  * `maxShingleDf` of 128) and the same for every seed, so every seed asks
  * for the same pair-search work; the seed draws the text, the edits and
  * the doc ids (a permutation, so the best member is not the smallest id).
  *
  * The numeric shape (the constants below) is an assumption, not a
  * measurement of real crawls; README.md in this directory lists it.
  *
  * The generator verifies its own output with an exact all-pairs 4-gram
  * Jaccard outside Spark (same df cap and rounding as the engine's pair
  * search, independent hashing), so the planted clusters are the exact
  * answer for the generated text, not only the intended one.
  */
object NearDupGen {
  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Int)
  final case class Cluster(members: Seq[Long], best: Long)
  final case class Corpus(docs: IndexedSeq[Doc], clusters: Seq[Cluster], stats: String)

  val N = 4
  val Threshold = 0.8
  val MaxShingleDf = 128
  /** Share of docs in planted clusters. */
  val PlantedShare = 0.25
  val MaxClusterSize = 100
  /** Tail index of the (truncated) Pareto cluster-size distribution. */
  val SizeAlpha = 1.3
  /** Share of copies edited to Jaccard [[NearBand]] with their original. */
  val NearShare = 0.3
  val NearBand = (0.81, 0.845)
  /** Share of clusters with one decoy at Jaccard [[DecoyBand]]. */
  val DecoyShare = 0.5
  val DecoyBand = (0.72, 0.79)
  private val VocabSize = 3000
  private val Syllables = Vector("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "pe", "da",
    "gri", "sto", "bel", "mar", "qui", "zen", "tho", "pla", "cor", "vin")

  private val vocab: Vector[String] = Vector.tabulate(VocabSize) { i =>
    val sb = new StringBuilder
    var k = i + Syllables.length
    while (k > 0) { sb.append(Syllables(k % Syllables.length)); k /= Syllables.length }
    sb.toString
  }

  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / (r + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def word(rng: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
    vocab(math.min(VocabSize - 1, if (i >= 0) i else -i - 1))
  }

  private def words(rng: SplittableRandom, lo: Int, hi: Int): Vector[String] =
    Vector.fill(lo + rng.nextInt(hi - lo + 1))(word(rng))

  /** Cluster sizes for `planted` docs: the truncated Pareto quantiles at a
    * fixed low-discrepancy sequence, the first cluster a pair (a single
    * edge holds it together, which the `drop_edge` self-test needs).
    */
  def clusterSizes(planted: Int): Vector[Int] = {
    val sizes = Vector.newBuilder[Int]
    var total = 0
    var i = 0
    while (planted - total >= 2) {
      val u = (i * 0.6180339887498949) % 1.0
      val size0 =
        if (i == 0) 2
        else math.min(MaxClusterSize, math.max(2, (2 / math.pow(1 - u, 1 / SizeAlpha)).toInt))
      val size = math.min(size0, planted - total)
      if (size >= 2) { sizes += size; total += size }
      i += 1
    }
    sizes.result()
  }

  /** Distinct sorted 4-gram hashes (MurmurHash3-based, independent of the
    * engine's shingle hash).
    */
  private def shingles(ws: IndexedSeq[String]): Array[Long] =
    ws.sliding(N).map { g =>
      val s = g.mkString(" ")
      (MurmurHash3.stringHash(s, 0x2f1b7e55).toLong << 32) | (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)
    }.toArray.distinct.sorted

  private def common(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var c = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    c
  }

  private def jaccard(a: Array[Long], b: Array[Long]): Double = {
    val c = common(a, b)
    c.toDouble / (a.length + b.length - c)
  }

  /** `base` with `k` distinct words deleted at random positions. */
  private def deleted(base: Vector[String], k: Int, rng: SplittableRandom): Vector[String] = {
    val drop = Iterator.continually(rng.nextInt(base.length)).distinct.take(k).toSet
    base.indices.filterNot(drop).map(base).toVector
  }

  /** A copy of `base` whose Jaccard with it lies in `band` (and, when
    * given, below `band._2` with every doc of `avoid`): deletions, their
    * number adapted until a draw lands in the band.
    */
  private def edited(
      base: Vector[String], baseSh: Array[Long], band: (Double, Double),
      avoid: Seq[Array[Long]], rng: SplittableRandom): (Vector[String], Array[Long]) = {
    // a deletion drops about four shingles and adds three, so k deletions
    // give a Jaccard of about (L - 4k) / (L + 3k)
    val mid = (band._1 + band._2) / 2
    var k = math.max(1, math.round((1 - mid) * base.length / (4 + 3 * mid)).toInt)
    var tries = 0
    while (tries < 500) {
      val ws = deleted(base, k, rng)
      val sh = shingles(ws)
      val j = jaccard(baseSh, sh)
      if (j > band._2) k += 1
      else if (j < band._1) k = math.max(1, k - 1)
      else if (avoid.forall(o => jaccard(o, sh) < band._2)) return (ws, sh)
      tries += 1
    }
    throw new IllegalStateException(s"no edit of a ${base.length}-word text lands in Jaccard $band")
  }

  def corpus(seed: Long, n: Int): Corpus = {
    val rng = new SplittableRandom(seed)
    val ids = Array.tabulate(n)(_.toLong)
    for (i <- n - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val docs = mutable.ArrayBuffer.empty[Doc]
    val sh = mutable.ArrayBuffer.empty[Array[Long]]
    val clusters = mutable.ArrayBuffer.empty[Cluster]
    def add(ws: Vector[String], shs: Array[Long]): Long = {
      val id = ids(docs.length)
      val text = ws.mkString(" ")
      docs += Doc(id, text, Seq("en", "fr", "de")(rng.nextInt(3)), s"crawl-${rng.nextInt(4)}", text.length)
      sh += shs
      id
    }
    var near = 0
    var decoys = 0
    clusterSizes((n * PlantedShare).toInt).foreach { size =>
      val base = words(rng, 100, 200)
      val baseSh = shingles(base)
      val best = add(base, baseSh)
      val family = mutable.ArrayBuffer(baseSh)
      val copies = (1 until size).map { _ =>
        val (ws, shs) =
          if (rng.nextDouble() < NearShare) { near += 1; edited(base, baseSh, NearBand, Nil, rng) }
          else { val ws = deleted(base, 1 + rng.nextInt(2), rng); (ws, shingles(ws)) }
        family += shs
        add(ws, shs)
      }
      clusters += Cluster(best +: copies, best)
      if (rng.nextDouble() < DecoyShare && docs.length < n) {
        val (ws, shs) = edited(base, baseSh, DecoyBand, family.toSeq, rng)
        add(ws, shs)
        decoys += 1
      }
    }
    while (docs.length < n) { val ws = words(rng, 80, 200); add(ws, shingles(ws)) }
    val stats = verify(docs.toIndexedSeq, sh.toIndexedSeq, clusters.toSeq) + s", $near near-threshold copies, $decoys decoys"
    Corpus(docs.toIndexedSeq, clusters.toSeq, stats)
  }

  /** Exact 4-gram Jaccard pairs over the whole corpus (shingles with
    * df > [[MaxShingleDf]] dropped from both sides, Jaccard rounded to four
    * places as the engine does), their connected components, and a check
    * that the components are exactly the planted clusters. Returns a
    * summary of the input's shape.
    */
  private def verify(docs: IndexedSeq[Doc], sh: IndexedSeq[Array[Long]], clusters: Seq[Cluster]): String = {
    val df = mutable.LongMap.empty[Int]
    sh.foreach(_.foreach(h => df(h) = df.getOrElse(h, 0) + 1))
    val kept = sh.map(_.filter(h => df(h) <= MaxShingleDf))
    val postings = mutable.LongMap.empty[mutable.ArrayBuffer[Int]]
    kept.zipWithIndex.foreach { case (hs, d) =>
      hs.foreach(h => if (df(h) >= 2) postings.getOrElseUpdate(h, mutable.ArrayBuffer.empty) += d)
    }
    val parent = Array.tabulate(docs.length)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); parent(x) = r; r }
    // shared shingles of doc a with every later doc, counted per a
    val shared = new Array[Int](docs.length)
    val touched = mutable.ArrayBuffer.empty[Int]
    var pairs = 0
    kept.indices.foreach { a =>
      kept(a).foreach { h =>
        postings.get(h).foreach(_.foreach { b =>
          if (b > a) { if (shared(b) == 0) touched += b; shared(b) += 1 }
        })
      }
      touched.foreach { b =>
        val c = shared(b)
        val j = c.toDouble / (kept(a).length + kept(b).length - c)
        // rounding can only lift a Jaccard by less than 0.0001
        if (j >= Threshold - 1e-4 &&
            BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble >= Threshold) {
          pairs += 1
          parent(find(a)) = find(b)
        }
        shared(b) = 0
      }
      touched.clear()
    }
    val component = docs.indices.groupBy(find).values.map(_.map(docs(_).doc_id).toSet).filter(_.size > 1).toSet
    val planted = clusters.map(_.members.toSet).toSet
    if (component != planted)
      throw new IllegalStateException(
        s"near_dup input: ${(component -- planted).size} exact clusters differ from the planted ones")
    s"${df.size} shingles, ${df.count(_._2 >= 2)} with df >= 2, ${df.count(_._2 > MaxShingleDf)} over the cap; " +
      s"${clusters.size} clusters, $pairs pairs"
  }
}

/** `Dedup.ngramJaccardPairs(n = 4, t = 0.8)` -> `dupClusters` ->
  * `keepBestInCluster` (quality = `n_chars`), materialized as parquet.
  */
final class NearDupWorkload(seed: Long, val docs: Int) extends Workload {
  val name = "near_dup"

  private lazy val corpus = NearDupGen.corpus(seed, docs)

  /** Pairs found by the last traced repetition. */
  var tracedPairs = 0L

  override def generate(spark: SparkSession, input: String, reference: String): Unit = {
    import spark.implicits._
    corpus.docs.toDS().repartition(Workloads.InputFiles).write.parquet(input)
    println(s"near_dup input: ${corpus.stats}")
    // expected labels: the planted cluster's smallest id and its original
    // kept, every other doc its own cluster
    val labels = mutable.HashMap.empty[Long, (Long, Boolean)]
    corpus.docs.foreach(d => labels(d.doc_id) = (d.doc_id, true))
    corpus.clusters.foreach { c =>
      val root = c.members.min
      c.members.foreach(m => labels(m) = (root, m == c.best))
    }
    labels.toSeq.map { case (id, (cluster, keep)) => (id, cluster, keep) }
      .toDF("doc_id", "cluster_id", "keep").coalesce(1).write.parquet(reference)
  }

  override def touch(spark: SparkSession): Unit = {
    import spark.implicits._
    GraftFunctions.register(spark)
    Seq("one two three four five").toDF("text").select(GraftFunctions.shingleHashes64(col("text"), 4)).collect()
  }

  override def run(
      spark: SparkSession, input: Seq[String], out: String, tracer: Option[Tracer], fault: Fault): Seq[String] = {
    val table = spark.read.parquet(input: _*)
    val pairs0 = Tracer.span(tracer, "ngramJaccardPairs") {
      val p = Dedup.ngramJaccardPairs(table, n = 4, threshold = 0.8)(spark)
      // traced runs materialize the pairs inside this span so the pair
      // search is not billed to dupClusters, which materializes them first
      if (tracer.isEmpty) p
      else {
        val m = p.localCheckpoint(true)
        tracedPairs = m.count()
        m
      }
    }
    val pairs =
      if (fault != Fault.DropEdge) pairs0
      else {
        // the first planted cluster is a pair: its one edge holds it together
        val Seq(a, b) = corpus.clusters.head.members.sorted
        pairs0.filter(!(col("a_id") === a && col("b_id") === b))
      }
    val labels = Tracer.span(tracer, "dupClusters")(Dedup.dupClusters(table, pairs)(spark))
    Tracer.span(tracer, "keepBestInCluster") {
      Dedup.keepBestInCluster(labels, table, "n_chars").write.parquet(s"$out/keep")
    }
    Nil
  }

  override def check(spark: SparkSession, input: String, reference: String, out: String, fault: Fault): Seq[String] = {
    val errors = Seq.newBuilder[String]
    def labels(dir: String): Map[Long, (Long, Boolean)] =
      spark.read.parquet(dir).select("doc_id", "cluster_id", "keep").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val rows = spark.read.parquet(s"$out/keep").count()
    val got = labels(s"$out/keep")
    if (rows != docs || got.size != docs)
      errors += s"$rows output rows for ${got.size} distinct docs, expected $docs"
    val want = labels(reference)
    val wrongCluster = want.keys.filter(id => got.get(id).map(_._1) != Some(want(id)._1))
    val wrongKeep = want.keys.filter(id => got.get(id).map(_._2) != Some(want(id)._2))
    if (wrongCluster.nonEmpty)
      errors += s"${wrongCluster.size} docs in the wrong cluster, e.g. doc ${wrongCluster.min}"
    if (wrongKeep.nonEmpty)
      errors += s"${wrongKeep.size} docs with the wrong keep flag, e.g. doc ${wrongKeep.min}"
    errors.result()
  }

  override def layerMetrics(t: Tracer, spark: SparkSession, out: String): Map[String, Double] = {
    val spans = Seq("ngramJaccardPairs", "dupClusters", "keepBestInCluster").flatMap(t.named)
    val w = t.workUnder(spans)
    val clusters = spark.read.parquet(s"$out/keep").groupBy("cluster_id").count()
      .filter(col("count") > 1).count()
    Map(
      "ops.pairs" -> tracedPairs.toDouble,
      "ops.clusters" -> clusters.toDouble,
      "ops.pairs_s" -> t.named("ngramJaccardPairs").map(_.seconds).sum,
      "ops.clusters_s" -> t.named("dupClusters").map(_.seconds).sum,
      "ops.keep_best_s" -> t.named("keepBestInCluster").map(_.seconds).sum,
      "ops.cc_spark_jobs" -> t.workUnder(t.named("dupClusters")).jobs.toDouble,
      "ops.shuffle_write_mb" -> w.shuffleWriteBytes / Main.MiB,
      "ops.spill_mb" -> w.spillBytes / Main.MiB,
      "ops.executor_cpu_s" -> w.cpuNs / 1e9
    )
  }
}

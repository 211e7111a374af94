package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Packing, TextAnalysis}

/** Seeded corpus for `corpus_dedup`. `Originals` documents of `MinTokens`
  * to `MaxTokens` tokens. The seven stop words the library's quality score
  * counts appear at their Brown Corpus frequencies (`Stop`, counts per
  * `BrownWords` running words; together 21.3% of tokens). The other tokens
  * follow Zipf's law (exponent `ZipfS` = 1) over a synthetic `Vocab`-word
  * vocabulary. On top come exact copies (`ExactShare` of originals), near
  * duplicates with the middle token replaced (`NearShare`), and short
  * punctuation-only low-quality documents (`LowShare`). Originals take ids
  * 0 until `Originals`, so each is the smallest id of its duplicate cluster.
  */
object CorpusGen {
  val Originals = 1000
  val MinTokens = 200
  val MaxTokens = 300
  val Vocab = 20000
  val ZipfS = 1.0
  val ExactShare = 0.12
  val NearShare = 0.12
  val LowShare = 0.08
  /** Brown Corpus counts (Kucera and Francis, 1967) of the stop words in
    * `graft.functions.TextStats`.
    */
  val Stop: IndexedSeq[(String, Int)] = IndexedSeq("the" -> 69971, "of" -> 36411, "and" -> 28852,
    "to" -> 26149, "a" -> 23237, "in" -> 21341, "is" -> 10099)
  val BrownWords = 1014312
  val StopShare: Double = Stop.map(_._2).sum.toDouble / BrownWords

  /** `near` maps each near duplicate's id to its original's id; `tokens`
    * holds every original and near duplicate, for the reference.
    */
  final case class Corpus(docs: Seq[(Long, String)], originals: Set[Long], near: Map[Long, Long],
      low: Set[Long], tokens: Map[Long, IndexedSeq[String]])

  def corpus(seed: Long): Corpus = {
    val rng = new scala.util.Random(seed)
    val stopWords = Stop.map(_._1).toSet
    val vocab = Iterator.continually {
      (1 to 3 + rng.nextInt(6)).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    }.filterNot(stopWords).distinct.take(Vocab).toIndexedSeq
    val zipf = new KvGen.Zipf(Vocab, ZipfS)
    val stopCdf = Stop.map(_._2.toDouble).scanLeft(0.0)(_ + _).tail.map(_ / Stop.map(_._2).sum)
    def word(): String = if (rng.nextDouble() < StopShare) {
      val u = rng.nextDouble()
      Stop(stopCdf.indexWhere(u < _) max 0)._1
    } else vocab(zipf.sample(rng))
    val originals = IndexedSeq.fill(Originals)(
      IndexedSeq.fill(MinTokens + rng.nextInt(MaxTokens - MinTokens + 1))(word()))
    // (tokens, kind, original) with kind 0 = exact copy, 1 = near duplicate, 2 = low quality
    val extra = ArrayBuffer.empty[(IndexedSeq[String], Int, Int)]
    (0 until (Originals * ExactShare).toInt).foreach { _ =>
      val o = rng.nextInt(Originals)
      extra += ((originals(o), 0, o))
    }
    (0 until (Originals * NearShare).toInt).foreach { _ =>
      val o = rng.nextInt(Originals)
      val at = originals(o).size / 2
      val repl = Iterator.continually(vocab(rng.nextInt(Vocab))).find(_ != originals(o)(at)).get
      extra += ((originals(o).updated(at, repl), 1, o))
    }
    (0 until (Originals * LowShare).toInt).foreach { _ =>
      val t = IndexedSeq.fill(2 + rng.nextInt(4))(
        (1 to 2 + rng.nextInt(3)).map(_ => "#@!%&*"(rng.nextInt(6))).mkString)
      extra += ((t, 2, -1))
    }
    val placed = rng.shuffle(extra.toIndexedSeq).zipWithIndex.map { case (e, i) => ((Originals + i).toLong, e) }
    Corpus(
      originals.zipWithIndex.map { case (o, i) => (i.toLong, o.mkString(" ")) } ++
        placed.map { case (id, (t, _, _)) => (id, t.mkString(" ")) },
      (0L until Originals).toSet,
      placed.collect { case (id, (_, 1, o)) => id -> o.toLong }.toMap,
      placed.collect { case (id, (_, 2, _)) => id }.toSet,
      originals.zipWithIndex.map { case (o, i) => i.toLong -> o }.toMap ++
        placed.collect { case (id, (t, 1, _)) => id -> t })
  }

  /** Distinct 3-token shingles, as `Dedup.shingles` forms them. */
  def shingles(tokens: IndexedSeq[String]): Set[String] =
    if (tokens.size < 3) Set.empty else tokens.sliding(3).map(_.mkString(" ")).toSet

  /** The reference clustering, computed without the library: documents
    * are linked when the exact Jaccard similarity of their distinct
    * 3-token shingles is at least `MinJaccard`, and each connected
    * component is named by its smallest id. It covers the originals and
    * near duplicates, the documents that pass quality and exact dedup.
    */
  def referenceClusters(tokens: Map[Long, IndexedSeq[String]]): Map[Long, Long] = {
    val sh = tokens.map { case (id, t) => id -> shingles(t) }
    val shared = scala.collection.mutable.Map.empty[(Long, Long), Int]
    sh.toSeq.flatMap { case (id, ss) => ss.toSeq.map(_ -> id) }.groupBy(_._1).values.foreach { posting =>
      val ids = posting.map(_._2).sorted
      for (i <- ids.indices; j <- i + 1 until ids.size) {
        val k = (ids(i), ids(j))
        shared(k) = shared.getOrElse(k, 0) + 1
      }
    }
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else find(p) }
    shared.foreach { case ((a, b), n) =>
      if (n >= MinJaccard * (sh(a).size + sh(b).size - n)) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    sh.keys.map(id => id -> find(id)).toMap
  }

  /** The Jaccard similarity that `Dedup.minhashLshPairs`' match threshold
    * (12 of 16 signature components) estimates.
    */
  val MinJaccard = 0.75
}

/** `corpus_dedup`: quality → exact dedup → MinHash-LSH pairs → exact
  * Jaccard verification of the candidate pairs → clusters (one document
  * kept per cluster) → BPE token count → first-fit packing. Each stage is
  * materialized before the next, so each call's time is its own.
  *
  * The checks come from the generator and the reference clustering, not
  * from the library: every original is kept, no cluster joins documents of
  * two reference clusters (so unrelated originals never merge), no exact
  * copy or low-quality document is kept, and at most `MaxMissedShare` of
  * the near duplicates escape their original's cluster. Every kept
  * document is packed exactly once, and no window exceeds the budget.
  */
final class CorpusDedup(ctx: Ctx) extends Workload(ctx) {
  import CorpusDedup._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private var docs: DataFrame = _
  private var nDocs = 0L
  private var corpus: CorpusGen.Corpus = _
  private var reference = Map.empty[Long, Long]
  private var shingleSets = Map.empty[Long, Set[String]]
  private var mustKeep = Set.empty[Long]

  def prepare(dir: String): Unit = {
    if (docs != null) docs.unpersist(true)
    corpus = CorpusGen.corpus(ctx.seed)
    docs = spark.createDataFrame(corpus.docs).toDF("doc_id", "text").repartition(ctx.nproc).cache()
    nDocs = docs.count()
    reference = CorpusGen.referenceClusters(corpus.tokens)
    shingleSets = corpus.docs.map { case (id, text) => id -> CorpusGen.shingles(text.split(" ").toIndexedSeq) }.toMap
    mustKeep = if (ctx.selfcheck) corpus.originals ++ corpus.low.take(1) else corpus.originals
  }

  /** Checks the chain's clusters (doc_id → cluster_id) and kept ids. */
  private def checkKept(clusters: Map[Long, Long], kept: Set[Long]): Boolean = {
    val mixed = clusters.groupBy(_._2).count { case (_, members) =>
      members.keys.map(reference.getOrElse(_, -1L)).toSet.size > 1 }
    val missed = kept.count(corpus.near.contains)
    val maxMissed = (corpus.near.size * MaxMissedShare).toInt
    ctx.check("corpus_dedup clusters refine the reference", mixed == 0,
      s"$mixed clusters join documents the exact-Jaccard reference keeps apart") &&
      ctx.check("corpus_dedup originals kept", mustKeep.subsetOf(kept),
        s"${(mustKeep -- kept).size} of ${mustKeep.size} missing") &&
      ctx.check("corpus_dedup only originals and near duplicates kept",
        kept.forall(id => corpus.originals(id) || corpus.near.contains(id)),
        s"${kept.count(id => !corpus.originals(id) && !corpus.near.contains(id))} others kept") &&
      ctx.check("corpus_dedup near duplicates merged", missed <= maxMissed,
        s"$missed of ${corpus.near.size} near duplicates kept, at most $maxMissed allowed")
  }

  def measure(seconds: Int): Measured = {
    val chainMs = ArrayBuffer.empty[Double]
    var chainNs, docsIn = 0L
    var nearKept = 0
    // Two untimed chains warm the ext kernels' generated code: chain times
    // still fell by a fifth from the first timed chain to the third after one.
    val chains = rounds(seconds, warmups = 2) { timed =>
      val t0 = System.nanoTime()
      ctx.op("chain") {
        val good = tr.span("ext", "quality") {
          TextAnalysis.quality(docs).filter(col("quality") >= MinQuality).select(col("doc_id"))
            .join(docs, "doc_id").localCheckpoint()
        }
        val unique = tr.span("ext", "exact") {
          Dedup.exact(good).filter(!col("is_dup")).select(col("doc_id")).join(good, "doc_id").localCheckpoint()
        }
        val pairs = tr.span("ext", "minhash_pairs") {
          val p = Dedup.minhashLshPairs(unique, MinMatches.toLong).localCheckpoint()
          tr.count("ext", "pairs_out", p.count().toDouble)
          p
        }
        // LSH pairs are candidates: keep those whose exact shingle Jaccard
        // reaches the similarity the match threshold stands for.
        val verified = tr.span("ext", "verify") {
          val v = pairs.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).filter {
            case (x, y, _) =>
              val (sx, sy) = (shingleSets(x), shingleSets(y))
              val both = sx.count(sy)
              both * JaccardDen >= (sx.size + sy.size - both) * JaccardNum
          }
          tr.count("ext", "pairs_verified", v.size.toDouble)
          spark.createDataFrame(v).toDF("a", "b", "match16")
        }
        val (kept, clusters) = tr.span("ext", "clusters") {
          val c = Dedup.clusters(unique, verified).localCheckpoint()
          (c.filter(col("doc_id") === col("cluster_id")).select(col("doc_id")).join(unique, "doc_id").localCheckpoint(),
            c.select(col("doc_id"), col("cluster_id")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
        }
        val costs = tr.span("ext", "bpe") {
          kept.select(col("doc_id"), TextAnalysis.bpeTokenCount(col("text")).as("cost")).localCheckpoint()
        }
        val packed = tr.span("ext", "pack") {
          Packing.packFirstFit(costs, (col("doc_id") / PackBucket).cast("long"), col("doc_id"), col("cost"), Budget)
            .collect().toSeq
        }
        val ids = packed.map(_.getLong(1))
        val keptIds = clusters.collect { case (d, c) if d == c => d }.toSet
        nearKept = keptIds.count(corpus.near.contains)
        val windows = packed.groupBy(r => (r.getLong(0), r.getLong(3))).values.map(_.map(_.getLong(2)).sum)
        checkKept(clusters, keptIds) &&
          ctx.check("corpus_dedup packed once", ids.size == ids.toSet.size && ids.toSet == keptIds,
            s"${ids.size} placements of ${ids.toSet.size} ids, ${keptIds.size} kept") &&
          ctx.check("corpus_dedup window budget", windows.forall(_ <= Budget) && packed.forall(_.getLong(2) > 0),
            s"max window ${windows.maxOption}")
      }.filter(_ => timed).foreach { ms =>
        chainNs += System.nanoTime() - t0
        docsIn += nDocs
        chainMs += ms
      }
    }
    val rate = if (chainNs == 0) 0.0 else docsIn / (chainNs / 1e9)
    Measured(rate, chainMs.toSeq, Seq("chains" -> chains, "docs" -> nDocs, "corpus_docs_per_s" -> rate,
      "near_duplicates_kept" -> nearKept, "near_duplicates" -> corpus.near.size))
  }
}

object CorpusDedup {
  val MinQuality = 500L
  /** `Dedup.minhashLshPairs`'s default match threshold, which the chain uses. */
  val MinMatches = 12
  /** `CorpusGen.MinJaccard` as the integer ratio the verification uses. */
  val JaccardNum = 3
  val JaccardDen = 4
  /** Share of near duplicates that may escape their original's cluster.
    * One-token edits leave a Jaccard similarity near 0.98, where 16
    * independent hashes under the 4x4 banding and 12-of-16 rule miss far
    * below 0.1%. The library's correlated hash family misses more often
    * (see README); the cap leaves room for that and fails when the
    * signatures stop tracking similarity.
    */
  val MaxMissedShare = 0.1
  val PackBucket = 256L
  val Budget = 4096L
}

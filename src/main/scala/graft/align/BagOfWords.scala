package graft.align

/** Bag-of-words page classifier (W2) — re-expression of the reference's
  * BagOfWords (split_md_to_pages.py:41-87: CountVectorizer → tf-idf →
  * SGDClassifier). Since r5 the prediction path TRAINS the reference's
  * objective: linear SGD with hinge loss, L2 penalty alpha=1e-3, 5
  * epochs, sklearn's "optimal" eta schedule (eta_t = 1/(alpha·(t0+t-1))
  * with the Bottou t0 heuristic), one-vs-all with sklearn's single-model
  * binary special case, argmax ties to the lowest class id. The ONE
  * documented divergence from SGDClassifier(random_state=42): epochs
  * pass the samples IN DATA ORDER instead of a seeded Mersenne-Twister
  * shuffle — the shuffle is buried in sklearn's Cython dataset layer and
  * cannot be replicated bit-exactly without the library present to
  * verify against (not installed here), while in-order passes keep the
  * classifier fully deterministic across engines and runs. The previous
  * tf-idf nearest-centroid (Rocchio) form is retained as
  * [[predictCentroid]]; BagOfWordsSpec pins a fixture whose pages are
  * separable ONLY by a max-margin-style weighting — the r4-verdict
  * failure mode — where the trained path classifies correctly and the
  * centroid path does not.
  *
  * Feature semantics follow sklearn's defaults: tokens are lowercase
  * runs of ≥2 word chars (token_pattern r"(?u)\b\w\w+\b"), idf is
  * ln((1+n)/(1+df)) + 1 (smooth_idf), vectors are L2-normalized.
  * Row-local: one model per document, trained on its page paragraphs.
  */
final class BagOfWords(sentences: IndexedSeq[String], target: IndexedSeq[Int]) {
  require(sentences.length == target.length && sentences.nonEmpty)

  private val tokenRe = "(?U)\\b\\w\\w+\\b".r

  private def tokensOf(s: String): Seq[String] =
    tokenRe.findAllIn(s.toLowerCase).toSeq

  // vocabulary + document frequencies over the training sentences
  private val (vocab, idf): (Map[String, Int], Array[Double]) = {
    val df = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    sentences.foreach { s =>
      tokensOf(s).distinct.foreach(t => df.update(t, df.getOrElse(t, 0) + 1))
    }
    val terms = df.keys.toArray.sorted // sklearn sorts the vocabulary
    val v = terms.zipWithIndex.toMap
    val n = sentences.length
    val idf = terms.map(t => math.log((1.0 + n) / (1.0 + df(t))) + 1.0)
    (v, idf)
  }

  private def tfidf(s: String): Array[Double] = {
    val vec = new Array[Double](idf.length)
    tokensOf(s).foreach { t =>
      vocab.get(t).foreach(i => vec(i) += 1.0)
    }
    var i = 0
    var norm = 0.0
    while (i < vec.length) { vec(i) *= idf(i); norm += vec(i) * vec(i); i += 1 }
    if (norm > 0) {
      val inv = 1.0 / math.sqrt(norm)
      i = 0
      while (i < vec.length) { vec(i) *= inv; i += 1 }
    }
    vec
  }

  private val classes: Array[Int] = target.distinct.sorted.toArray

  // L2-normalized class centroids of the training tf-idf vectors, built
  // on first use: only predictCentroid reads them
  private lazy val centroids: Map[Int, Array[Double]] = classes.map { c =>
    val members = sentences.indices.filter(target(_) == c)
    val acc = new Array[Double](idf.length)
    members.foreach { m =>
      val v = tfidf(sentences(m))
      var i = 0
      while (i < acc.length) { acc(i) += v(i); i += 1 }
    }
    var norm = 0.0
    var i = 0
    while (i < acc.length) { norm += acc(i) * acc(i); i += 1 }
    if (norm > 0) {
      val inv = 1.0 / math.sqrt(norm)
      i = 0
      while (i < acc.length) { acc(i) *= inv; i += 1 }
    }
    c -> acc
  }.toMap

  /** Most-similar class by cosine over the class centroids; ties break
    * to the LOWEST class id. Retained as the pre-r5 classifier for
    * comparison/fallback experiments (the production path is the
    * trained [[predict]]).
    */
  def predictCentroid(text: String): Int = {
    val v = tfidf(text)
    var best = classes(0)
    var bestSim = Double.NegativeInfinity
    classes.foreach { c =>
      val cen = centroids(c)
      var s = 0.0
      var i = 0
      while (i < v.length) { s += v(i) * cen(i); i += 1 }
      if (s > bestSim) { bestSim = s; best = c }
    }
    best
  }

  // ---- trained SGD hinge (the reference's SGDClassifier call,
  //      split_md_to_pages.py:66-74) --------------------------------

  private val Alpha = 1e-3 // reference alpha (split_md_to_pages.py:69)
  private val Epochs = 5   // reference max_iter (tol=None → exactly 5 passes)

  /** sklearn "optimal" schedule init (public SGD docs / Bottou's sgd):
    * typw = sqrt(1/sqrt(alpha)); eta0 = typw / max(1, |dloss(-typw,1)|)
    * — the hinge derivative magnitude is 1 — and t0 = 1/(eta0·alpha);
    * then eta_t = 1 / (alpha · (t0 + t − 1)) with t counting samples
    * cumulatively across epochs from 1.
    */
  private val t0: Double = {
    val typw = math.sqrt(1.0 / math.sqrt(Alpha))
    val eta0 = typw / 1.0
    1.0 / (eta0 * Alpha)
  }

  // training vectors computed once, shared by every OvA sub-model
  private lazy val trainVecs: Array[Array[Double]] =
    sentences.map(tfidf).toArray

  /** One binary hinge-SGD pass set: y in {-1,+1} per sample; returns
    * (w, b). Sparse-input intercept decay 0.01 as in sklearn's sparse
    * path (CountVectorizer output is sparse in the reference).
    */
  private def fitBinary(y: Array[Int]): (Array[Double], Double) = {
    val w = new Array[Double](idf.length)
    var b = 0.0
    var t = 1.0
    var epoch = 0
    while (epoch < Epochs) {
      var s = 0
      while (s < trainVecs.length) {
        val x = trainVecs(s)
        val eta = 1.0 / (Alpha * (t0 + t - 1.0))
        var score = b
        var i = 0
        while (i < x.length) { score += w(i) * x(i); i += 1 }
        // L2 shrink applies every step; the loss term only on margin
        // violation (hinge dloss = -y when y·score < 1, else 0)
        val shrink = 1.0 - eta * Alpha
        val violated = y(s) * score < 1.0
        i = 0
        while (i < w.length) {
          w(i) *= shrink
          if (violated) w(i) += eta * y(s) * x(i)
          i += 1
        }
        if (violated) b += eta * y(s) * 0.01
        t += 1.0
        s += 1
      }
      epoch += 1
    }
    (w, b)
  }

  /** OvA decision models; sklearn's binary special case fits ONE model
    * (classes(1) = +1) and signs it. */
  private lazy val models: Array[(Array[Double], Double)] =
    if (classes.length <= 1) Array.empty
    else if (classes.length == 2)
      Array(fitBinary(target.map(c => if (c == classes(1)) 1 else -1).toArray))
    else
      classes.map(cl => fitBinary(target.map(c => if (c == cl) 1 else -1).toArray))

  /** Trained-hinge prediction; argmax over OvA decision scores, first
    * max (lowest class id) on ties — sklearn argmax semantics. */
  def predict(text: String): Int = {
    if (classes.length <= 1) return classes(0)
    val v = tfidf(text)
    def score(m: (Array[Double], Double)): Double = {
      var s = m._2
      var i = 0
      while (i < v.length) { s += m._1(i) * v(i); i += 1 }
      s
    }
    if (classes.length == 2) {
      if (score(models(0)) > 0) classes(1) else classes(0)
    } else {
      var best = classes(0)
      var bestScore = Double.NegativeInfinity
      var k = 0
      while (k < classes.length) {
        val s = score(models(k))
        if (s > bestScore) { bestScore = s; best = classes(k) }
        k += 1
      }
      best
    }
  }

  def predict(texts: Seq[String]): Array[Int] = texts.map(predict).toArray
}

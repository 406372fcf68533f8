package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.Native
import graft.functions.TextFunctions.tokens
import graft.operators.Similarity.planeCoef

/** Portable Column forms (higher-order functions and plan literals over
  * Spark built-ins) of the native kernels in `graft.functions.Native`.
  * The operators run the native kernels; the specs compare them against
  * these forms, which mirror the DuckDB oracles term for term. */
object PortableTwins {

  /** Word n-gram shingles: overlapping windows of `n` tokens joined by
    * a single space. Documents shorter than n tokens → empty array. */
  def shingles(text: Column, n: Int): Column =
    shinglesOfTokens(tokens(lower(text)), n)

  /** [[shingles]] over an ALREADY-materialized token array: given
    * `toks = tokens(lower(text))` the strings are byte-identical to
    * `shingles(text, n)`, including the NULL case (null tokens → null
    * size → the otherwise branch → empty array). */
  def shinglesOfTokens(toks: Column, n: Int): Column = {
    val cnt = size(toks)
    when(cnt >= n,
      transform(sequence(lit(1), cnt - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** MinHash signature: for each of `numHashes` seeds, the minimum
    * md5(seed:shingle) hex string over the document's shingles.
    * Min-over-strings on hex is order-isomorphic to min over the
    * underlying 128-bit integers, and portable across engines.
    * Returns array<string> of length numHashes (null-free; docs with
    * no shingles get "z"-sentinels that only collide with each other).
    */
  def minhashSignature(text: Column, shingleN: Int, numHashes: Int): Column = {
    val sh = shingles(text, shingleN)
    val sig = (0 until numHashes).map { seed =>
      coalesce(
        array_min(transform(sh,
          s => md5(concat(lit(seed.toString), lit(":"), s).cast("binary")))),
        lit("zz_empty"))
    }
    array(sig: _*)
  }

  /** 60-bit SimHash over the token stream: bit b of the signature is
    * set iff Σ_tokens (2·bit_b(hash(token)) − 1) > 0. One pass to hash
    * tokens, then 60 integer reductions over the (small) hash array. */
  def simhash60(text: Column): Column = {
    val hs = transform(tokens(lower(text)), t => hexHash60Tok(t))
    val bitCols = transform(sequence(lit(0), lit(59)), b => {
      val votes = aggregate(hs, lit(0),
        (acc, h) => acc +
          when(call_function("shiftright", h, b).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(votes > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))
    })
    aggregate(bitCols, lit(0L), (acc, v) => acc.bitwiseOR(v))
  }

  private def hexHash60Tok(t: Column): Column =
    conv(substring(md5(concat(lit("sh:"), t).cast("binary")), 1, 15), 16, 10)
      .cast("long")

  /** Random-hyperplane sign signature of width `bits`: bit i is the
    * sign of the dot product with pseudo-random hyperplane i, as
    * `bits`×`dims` literal multiply-adds. */
  def signSignature(vec: Column, bits: Int, dims: Int): Column = {
    val sig = (0 until bits).map { b =>
      val proj = (0 until dims).map { d =>
        vec.getItem(d).cast("double") * planeCoef(b, d)
      }.reduce(_ + _)
      when(proj >= 0, 1L << b).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    sig
  }

  /** Sequential-fold dot product of two array<float/double> columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, rounded to 6 decimals. */
  def cosine(a: Column, b: Column): Column =
    round(dot(a, b) / (norm(a) * norm(b)), 6)

  /** Exact squared L2 distance of two bigint arrays; raises on a Long
    * overflow under ANSI. */
  def sqDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** Fixed-point quantization: floor(x·scale + 0.5) per element, as
    * `Native.fixedPoint` computes it. */
  def fixedPoint(vec: Column, scale: Double): Column =
    transform(vec, v => floor(v.cast("double") * scale + 0.5).cast("long"))

  /** Exact squared L2 distance to a literal centroid. */
  def sqDistToLit(qv: Column, cv: Array[Long]): Column =
    Native.sqDistI64(qv, typedlit(cv.toSeq))

  /** The `k` nearest centroids as `Native.nearestK` returns them: a
    * lexicographic struct sort over one literal distance per centroid —
    * min distance, ties to the lowest id, a null distance first. */
  def nearestK(qv: Column, cents: Array[(Int, Array[Long])], k: Int): Column = {
    val entries = cents.map { case (cid, cv) =>
      struct(sqDistToLit(qv, cv).as("d"), lit(cid.toLong).as("c"))
    }
    slice(sort_array(array(entries: _*)), 1, k)
  }

  /** `qv` minus the centroid at position `cell` of the id-sorted literal
    * centroid matrix. */
  def residual(qv: Column, cell: Column, cents: Array[(Int, Array[Long])]): Column = {
    val centLit = typedlit(cents.sortBy(_._1).map(_._2.toSeq).toSeq)
    zip_with(qv, element_at(centLit, (cell + 1).cast("int")), (x, y) => x - y)
  }

  /** PQ codes: per sub-space, the struct-sort argmin over the literal
    * codewords. */
  def pqEncode(rv: Column, books: Array[Array[(Int, Array[Long])]]): Column = {
    val subDim = books(0)(0)._2.length
    array(books.indices.map { i =>
      val entries = books(i).map { case (cid, cw) =>
        struct(sqDistToLit(slice(rv, i * subDim + 1, subDim), cw).as("d"),
          lit(cid.toLong).as("c"))
      }
      sort_array(array(entries: _*)).getItem(0).getField("c")
    }: _*)
  }

  /** ADC lookup table: per sub-space, one literal squared distance (or
    * integer dot, `dot`) per codeword in id order. */
  def adcLut(v: Column, books: Array[Array[(Int, Array[Long])]], dot: Boolean): Column = {
    val subDim = books(0)(0)._2.length
    def dotToLit(a: Column, cv: Array[Long]): Column =
      aggregate(zip_with(a, typedlit(cv.toSeq), (x, y) => x * y),
        lit(0L), (acc, v) => acc + v)
    array(books.indices.map { i =>
      val sub = slice(v, i * subDim + 1, subDim)
      array(books(i).sortBy(_._1).map { case (_, cw) =>
        if (dot) dotToLit(sub, cw) else sqDistToLit(sub, cw) }: _*)
    }: _*)
  }

  /** ADC score: the HOF fold of one table lookup per sub-space. */
  def adcScore(codes: Column, lut: Column): Column =
    aggregate(
      zip_with(codes, lut, (c, l) => element_at(l, (c + 1).cast("int"))),
      lit(0L), (acc, v) => acc + v)

  /** Rolling polynomial hash over the characters of the normalized
    * text: h = fold(h·31 + codepoint) mod 1e9+7 — the classic
    * Rabin–Karp fingerprint, expressed as a higher-order `aggregate`. */
  def rollingHash(text: Column): Column =
    aggregate(
      filter(split(array_join(tokens(lower(text)), " "), ""), c => c =!= ""),
      lit(0L),
      (acc, c) => (acc * 31L + ascii(c)) % 1000000007L)

  /** F5 — population/year disambiguation scan
    * (`scrape_cia.py:256-280`): over all `[\d,]+` tokens in the text,
    * population = first token whose length != 4 (commas stripped);
    * year = first len==4 token APPEARING AFTER the population token.
    * Known-wrong on 3 territories; behavior preserved.
    */
  def populationTokens(text: Column): Column =
    regexp_extract_all(text, lit("[\\d,]+"), lit(0))

  def populationFromText(text: Column): Column =
    try_element_at(filter(populationTokens(text), t => length(t) =!= 4), lit(1))

  /** Index (1-based) of the population token within the token array,
    * so the year scan can start after it. */
  private def popIdx(toks: Column): Column =
    // aggregate: carry (foundIdx, curIdx); foundIdx = first i with len!=4
    aggregate(
      toks,
      struct(lit(0).as("found"), lit(0).as("i")),
      (acc, t) => struct(
        when(acc.getField("found") === 0 && length(t) =!= 4,
          acc.getField("i") + 1).otherwise(acc.getField("found")).as("found"),
        (acc.getField("i") + 1).as("i")),
      acc => acc.getField("found"))

  def yearFromPopText(text: Column): Column = {
    val toks = populationTokens(text)
    val pi = popIdx(toks)
    // first len==4 token strictly after the population token
    val after = slice(toks, pi + 1, greatest(size(toks) - pi, lit(0)))
    when(pi > 0, try_element_at(filter(after, t => length(t) === 4), lit(1)))
  }

  def populationValue(text: Column): Column =
    regexp_replace(populationFromText(text), ",", "").cast("double")
}

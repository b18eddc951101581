package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.ColumnShim.{column => toCol, expression => toExpr}
import org.apache.spark.sql.functions._

/** Column-level spatial / vector / text function surface.
  *
  * Design rule (SURVEY.md §7.1): compose `org.apache.spark.sql.functions`
  * wherever the semantics allow — those are codegen'd and pushdown-friendly —
  * and drop to the native expressions in [[graft.functions.expressions]]
  * only where built-ins can't express the op (vector kernels, z-order).
  *
  * The reference exposes the same semantics as expression nodes
  * (reference: expression/InRange.scala:31-46, InCircleRange.scala:32-50)
  * evaluated via CodegenFallback; here box/circle predicates compile to
  * plain comparison conjunctions so Catalyst pushes them into the scan.
  */
package object functions {

  /** Euclidean distance between two n-D points given as coordinate columns. */
  def pointDistance(a: Seq[Column], b: Seq[Column]): Column = {
    require(a.nonEmpty && a.length == b.length, "coordinate arity mismatch")
    sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.reduce(_ + _))
  }

  def pointDistance(ax: Column, ay: Column, bx: Column, by: Column): Column =
    pointDistance(Seq(ax, ay), Seq(bx, by))

  /** Coordinate `i` (0-based) of a Point-UDT column. `UnwrapUDT` retypes
    * the column to its physical `array<double>` (codegen'd identity — no
    * per-row Point deserialization), `element_at` reads the ordinate. */
  def pointCoord(p: Column, i: Int): Column =
    element_at(toCol(
      org.apache.spark.sql.catalyst.expressions.UnwrapUDT(toExpr(p))), i + 1)

  /** Box-range predicate: point in [low, high] on every dimension,
    * boundaries inclusive (semantics of reference expression/InRange.scala:31-46;
    * the conjunctive-filter equivalence is documented by the reference itself
    * at DataSet.scala:50-55). Pure comparisons — pushes down to parquet. */
  def inBox(keys: Seq[Column], low: Seq[Double], high: Seq[Double]): Column = {
    require(keys.length == low.length && keys.length == high.length)
    keys.indices.map(i => keys(i) >= low(i) && keys(i) <= high(i)).reduce(_ && _)
  }

  /** Circle-range predicate: dist(point, center) <= r, boundary inclusive
    * (semantics of reference expression/InCircleRange.scala:32-50). The
    * bounding-box conjuncts are redundant with the distance test but ARE
    * pushdown-able, so the parquet scan prunes before the sqrt runs. */
  def inCircle(keys: Seq[Column], center: Seq[Double], r: Double): Column = {
    require(keys.length == center.length)
    val bbox = inBox(keys, center.map(_ - r), center.map(_ + r))
    val dist = pointDistance(keys, center.map(lit))
    bbox && dist <= r
  }

  /** Distance from point (x, y) to the segment [a, b]: clamp the
    * projection parameter to [0,1], measure to the projected point.
    * Pure column arithmetic in a fixed shape, so a SQL oracle using the
    * identical formula matches bit-for-bit (kernel twin:
    * graft.spatial.Dist.pointToSegment). */
  def distanceToSegment(x: Column, y: Column,
                        ax: Double, ay: Double, bx: Double, by: Double): Column = {
    val len2 = (bx - ax) * (bx - ax) + (by - ay) * (by - ay)
    require(len2 > 0, "degenerate segment")
    val t = least(greatest(((x - lit(ax)) * lit(bx - ax) + (y - lit(ay)) * lit(by - ay))
      / lit(len2), lit(0.0)), lit(1.0))
    val px = lit(ax) + t * lit(bx - ax)
    val py = lit(ay) + t * lit(by - ay)
    sqrt((x - px) * (x - px) + (y - py) * (y - py))
  }

  /** Polygon containment predicate, boundary inclusive. The polygon's
    * bounding-box conjuncts are redundant with the exact test but ARE
    * pushdown-able, so the parquet scan prunes first (same discipline as
    * [[inCircle]]). */
  def inPolygon(x: Column, y: Column, poly: graft.spatial.Polygon): Column = {
    val b = poly.mbr
    val exact =
      if (poly.holes.isEmpty) PointInPolygon(toExpr(x), toExpr(y), poly.flat)
      else PointInPolygonRings(toExpr(x), toExpr(y), poly.flatRings)
    inBox(Seq(x, y), Seq(b.low.coord(0), b.low.coord(1)),
      Seq(b.high.coord(0), b.high.coord(1))) && toCol(exact)
  }

  // ---- mixed-geometry Shape columns (struct<tag:int, coords:array<double>>) ----
  // The struct-encoded rebuild of the reference's single-ShapeType-column
  // API form (reference: ShapeType.scala:27-41, DataSet.scala:229-236);
  // constructors are pure column arithmetic, predicates are the codegen'd
  // ShapeIntersects/ShapeMinDist expressions.

  private def shapeStruct(tag: Int, coords: Seq[Column]): Column =
    struct(lit(tag).as("tag"),
      array(coords.map(_.cast("double")): _*).as("coords"))

  /** Point shape from n coordinate columns. */
  def stPoint(coords: Column*): Column =
    shapeStruct(graft.spatial.ShapeCodec.TagPoint, coords)

  /** Axis-aligned box shape from per-dimension low/high columns. */
  def stBox(low: Seq[Column], high: Seq[Column]): Column = {
    require(low.nonEmpty && low.length == high.length, "box corner arity mismatch")
    shapeStruct(graft.spatial.ShapeCodec.TagMBR, low ++ high)
  }

  /** Ball shape from center columns + radius column. */
  def stCircle(center: Seq[Column], radius: Column): Column = {
    require(center.nonEmpty)
    shapeStruct(graft.spatial.ShapeCodec.TagCircle, center :+ radius)
  }

  /** 2-D segment shape. */
  def stSegment(ax: Column, ay: Column, bx: Column, by: Column): Column =
    shapeStruct(graft.spatial.ShapeCodec.TagSegment, Seq(ax, ay, bx, by))

  /** Literal shape of any geometry (query constants). */
  def stShape(s: graft.spatial.Shape): Column = {
    val (tag, coords) = graft.spatial.ShapeCodec.encode(s)
    shapeStruct(tag, coords.toSeq.map(lit))
  }

  /** Whether two shape columns intersect (boundary inclusive). */
  def stIntersects(a: Column, b: Column): Column =
    toCol(ShapeIntersects(toExpr(a), toExpr(b)))

  /** Minimum Euclidean distance between two shape columns (0 if they
    * intersect). */
  def stDistance(a: Column, b: Column): Column =
    toCol(ShapeMinDist(toExpr(a), toExpr(b)))

  /** Low or high bbox edge on `axis` of a shape column, from the
    * decoded shape (see [[graft.functions.ShapeBBoxEdge]]). */
  private[graft] def stBBoxEdge(shape: Column, axis: Int, hi: Boolean): Column =
    toCol(ShapeBBoxEdge(toExpr(shape), axis, hi))

  /** WKT text of a shape column (see [[graft.spatial.Wkt]] for the
    * mapping and the non-standard CIRCLE extension). */
  def stAsWkt(shape: Column): Column = toCol(ShapeAsWkt(toExpr(shape)))

  /** Parse WKT text into a shape column (strict — malformed rows throw). */
  def stFromWkt(text: Column): Column = toCol(WktToShape(toExpr(text)))

  /** OGC WKB bytes of a shape column (little-endian; see
    * [[graft.spatial.Wkb]] for the mapping and the 0xF002 circle
    * extension) — the PostGIS/GeoParquet exchange format. */
  def stAsWkb(shape: Column): Column = toCol(ShapeAsWkb(toExpr(shape)))

  /** Parse WKB bytes (either endianness) into a shape column (strict —
    * malformed rows throw). */
  def stFromWkb(bytes: Column): Column = toCol(WkbToShape(toExpr(bytes)))

  // ---- vector surface (native expressions, codegen'd) ----

  def cosineSimilarity(a: Column, b: Column): Column =
    toCol(CosineSimilarity(toExpr(a), toExpr(b)))

  /** Probe a serialized `spark.util.sketch.BloomFilter` with a long
    * column — codegen'd, filter deserialized once per plan. `true` is
    * a maybe, `false` a definite no; always confirm positives. */
  def bloomMightContain(h: Column, bloomBytes: Array[Byte]): Column =
    toCol(BloomMightContainLong(toExpr(h), bloomBytes))

  def nearestCells(qv: Column, centroids: Array[Array[Double]],
                   np: Int): Column =
    toCol(NearestCells(toExpr(qv), centroids, np))

  def pqEncode(qv: Column, books: Array[Array[Array[Double]]],
               subDim: Int): Column =
    toCol(PqEncode(toExpr(qv), books, subDim))

  def centroidShiftL(qv: Column, cell0: Column,
                     centers: Array[Array[Long]]): Column =
    toCol(CentroidShiftL(toExpr(qv), toExpr(cell0), centers))

  def twoLevelAssignF(qv: Column, sup: Array[Array[Float]],
                      kids: Array[Array[Array[Float]]], childK: Int): Column =
    toCol(TwoLevelAssignF(toExpr(qv), sup, kids, childK))

  def twoLevelProbesF(qv: Column, sup: Array[Array[Float]],
                      kids: Array[Array[Array[Float]]], childK: Int,
                      nprobe: Int): Column =
    toCol(TwoLevelProbesF(toExpr(qv), sup, kids, childK, nprobe))

  def centroidShiftD(qv: Column, cell0: Column,
                     centers: Array[Array[Double]]): Column =
    toCol(CentroidShiftD(toExpr(qv), toExpr(cell0), centers))

  def pqAdc(qv: Column, codes: Column, books: Array[Array[Array[Double]]],
            subDim: Int): Column =
    toCol(PqAdc(toExpr(qv), toExpr(codes), books, subDim))

  def projectFold(vec: Column, weights: Array[Double]): Column =
    toCol(ProjectFold(toExpr(vec), weights))

  def dotProduct(a: Column, b: Column): Column =
    toCol(DotProduct(toExpr(a), toExpr(b)))

  def vectorNorm(a: Column): Column = toCol(VectorNorm(toExpr(a)))

  def l2Distance(a: Column, b: Column): Column =
    toCol(L2Distance(toExpr(a), toExpr(b)))

  def pivotArgmin(vec: Column, pivots: Array[Double], dim: Int,
                  isFloat: Boolean): Column =
    toCol(PivotArgmin(toExpr(vec), pivots, dim, isFloat))

  def pivotAdmitted(vec: Column, pivots: Array[Double], bands: Array[Double],
                    dim: Int, isFloat: Boolean): Column =
    toCol(PivotAdmitted(toExpr(vec), pivots, bands, dim, isFloat))

  def hierPivotArgmin(vec: Column, coarse: Array[Double], pivots: Array[Double],
                      offsets: Array[Int], dim: Int, isFloat: Boolean): Column =
    toCol(HierPivotArgmin(toExpr(vec), coarse, pivots, offsets, dim, isFloat))

  def hierPivotAdmitted(vec: Column, coarse: Array[Double], pivots: Array[Double],
                        offsets: Array[Int], groupBands: Array[Double],
                        bands: Array[Double], dim: Int, isFloat: Boolean): Column =
    toCol(HierPivotAdmitted(toExpr(vec), coarse, pivots, offsets, groupBands,
      bands, dim, isFloat))

  private[graft] def knnRescue(vec: Column, sample: Array[Double], reach: Array[Double],
                               pivots: Array[Double], dim: Int, isFloat: Boolean): Column =
    toCol(KnnRescue(toExpr(vec), sample, reach, pivots, dim, isFloat))

  private[graft] def boxReach(box: Column, boxes: Array[Double],
                              reach: Array[Double]): Column =
    toCol(BoxReach(toExpr(box), boxes, reach))

  def hyperplaneSketch(v: Column, planes: Int = 16, seed: Long = 42L): Column =
    toCol(HyperplaneSketch(toExpr(v), planes, seed))

  /** Achlioptas ±1 JL projection to `outDim` coordinates (seed must be
    * non-negative for engine-exact SQL replay of the sign hash). */
  def signProject(v: Column, outDim: Int, seed: Long = 0L): Column =
    toCol(SignProject(toExpr(v), outDim, seed))

  // ---- text surface (native expressions, codegen'd) ----

  def minhashSignature(text: Column, shingle: Int = 3, numHashes: Int = 64,
                       seed: Long = 42L): Column =
    toCol(MinHashSignature(toExpr(text), shingle, numHashes, seed))

  def simhash64(text: Column): Column = toCol(SimHash64(toExpr(text)))

  /** Content-defined chunk split: rolling-hash boundaries (avg chunk
    * ~2^maskBits chars), insertion-robust — the chunking that makes
    * chunk-level dedup survive edits. Chunks concatenate back to the
    * input exactly. */
  def cdcChunks(text: Column, window: Int = 16, maskBits: Int = 8,
                minSize: Int = 64, maxSize: Int = 1024): Column = {
    require(maskBits >= 1 && maskBits <= 62, s"maskBits in [1,62]: $maskBits")
    toCol(CdcChunks(toExpr(text), window, (1L << maskBits) - 1, minSize, maxSize))
  }

  def shingleJaccard(a: Column, b: Column, n: Int = 3): Column =
    toCol(ShingleJaccard(toExpr(a), toExpr(b), n))

  /** Per-doc distinct sorted shingle-hash set (pair with [[sortedJaccard]]). */
  def shingleSet(text: Column, n: Int = 3): Column =
    toCol(ShingleSet(toExpr(text), n))

  /** Distinct sorted hashes of the exact [[wordGrams]] gram strings —
    * the candidate-gate twin of a string-keyed gram equi-join (equal
    * gram strings always hash equal; see TextKernels.wordGramHashSet). */
  def wordGramHashSet(text: Column, n: Int): Column =
    toCol(WordGramHashSet(toExpr(text), n))

  /** Merge-intersection Jaccard of two [[shingleSet]] arrays. */
  def sortedJaccard(a: Column, b: Column): Column =
    toCol(SortedJaccard(toExpr(a), toExpr(b)))

  def fingerprint64(text: Column): Column = toCol(Fingerprint64(toExpr(text)))

  def langId(text: Column): Column = toCol(LangId(toExpr(text)))

  /** Whitespace tokens of trimmed text. Empty tokens are filtered out so
    * blank/empty text yields ZERO tokens (split alone returns [""] there,
    * which silently gave empty documents a near-perfect quality score);
    * matches TextKernels.tokenize and the DuckDB oracle twin
    * `list_filter(regexp_split_to_array(trim(x), '\s+'), t -> t != '')`. */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= "")

  /** Stopword list shared by the quality-score surface and its oracle. */
  val defaultStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** URL canonicalization for dedup-by-URL (the Common-Crawl curation
    * primitive: near-identical fetches differ only in case, fragments,
    * tracking params, param order, www, default ports). Deterministic
    * rewrite chain, applied in this order:
    *   1. strip the `#fragment`;
    *   2. lowercase the scheme://host[:port] head (path/query stay
    *      case-sensitive);
    *   3. strip a leading `www.` from the host;
    *   4. strip the scheme's default port (`:80` http, `:443` https);
    *   5. remove tracking params (`utm_*`, `fbclid`, `gclid`) and
    *      re-normalize `?`/`&` separators;
    *   6. sort remaining query params byte-lexicographically;
    *   7. strip a bare trailing `/` (host-only URLs).
    * Every step is `regexp_extract`/`regexp_replace`/`split`/
    * `array_sort` over the Java-regex ∩ RE2 class (no lookaround), so
    * an oracle engine replays the whole chain bit-for-bit. Heuristic by
    * design — canonicalization always is; the choices here are the
    * common-crawl-pipeline defaults. Null-safe (null in, null out). */
  def urlNormalize(url: Column): Column = {
    // 1. fragment off first so later anchors never see '#'
    val noFrag = regexp_replace(url, "#.*$", "")
    // 2. lowercase the scheme://authority head; absent scheme = no-op
    val head = regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", 0)
    val lowered = concat(lower(head),
      noFrag.substr(length(head) + 1, lit(1 << 30)))
    // 3. www. off the host
    val noWww = regexp_replace(lowered, "^(https?://)www\\.", "$1")
    // 4. default ports
    val noPort = regexp_replace(
      regexp_replace(noWww, "^(https://[^/?#:]*):443([/?#].*)?$", "$1$2"),
      "^(http://[^/?#:]*):80([/?#].*)?$", "$1$2")
    // 5. tracking params out, separators re-normalized. The param name
    // is anchored to its `?`/`&` separator (kept via $1) so `refbclid=`
    // or a `gclid=` inside another param's VALUE never matches — an
    // unanchored pattern silently merged distinct URLs into one
    // canonical key (data loss in urlCanonicalDedup).
    val noTrack = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(noPort,
            "([?&])(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&#]*", "$1"),
          "&&+", "&"),
        "\\?&", "?"),
      "[?&]+$", "")
    // 6. sort the surviving query params
    val qs = regexp_extract(noTrack, "\\?(.*)$", 1)
    val base = regexp_replace(noTrack, "\\?.*$", "")
    val sorted = when(length(qs) > 0,
      concat(base, lit("?"), array_join(array_sort(split(qs, "&")), "&")))
      .otherwise(noTrack)
    // 7. bare trailing slash
    regexp_replace(sorted, "^(https?://[^/?#]*)/+$", "$1")
  }

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  // PII-ish patterns, deliberately restricted to syntax valid in BOTH
  // Java regex (Spark) and RE2 (DuckDB/ripgrep) so the redaction is
  // SQL-oracle-able: no lookarounds, no possessive quantifiers
  private[graft] val EmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private[graft] val UrlRe = """https?://[^\s]+"""
  private[graft] val PhoneRe = """\d{3}[-.]\d{3}[-.]\d{4}"""

  /** Curation-pipeline redaction: emails, URLs, then phone-shaped
    * numbers replaced by typed tokens. URL first of the three REPLACED
    * patterns would eat emails inside URLs — order is email, URL, phone
    * so `mailto:`-less addresses keep their own token. Codegen'd
    * built-in `regexp_replace` all the way (replaces every match). */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        UrlRe, "<URL>"),
      PhoneRe, "<PHONE>")

  /** The two-halves Knuth multiplicative hash on a value masked to 32
    * bits — THE engine-portable integer fold every sampler, splitter,
    * and sharder replays in SQL as
    * `((k % 2^32 // 65536 * 2654435761) % 2^32 * 65536 +
    * k % 65536 * 2654435761) % 2^32`. The id is masked and the
    * multiply runs in 16-bit halves so no intermediate exceeds 2^49
    * (the naive `id * 2654435761` overflows Long past id ~3.5e9 —
    * silent wrap in non-ANSI Spark, an error in ANSI Spark and
    * DuckDB). Engine-exact replay additionally requires NON-NEGATIVE
    * inputs: SQL `%` truncates toward zero on negatives where Spark's
    * pmod floors. ONE definition on purpose — sharding, sampling, and
    * splitting must never drift apart. */
  private[graft] def knuth32(id: Column): Column = {
    val m32 = 4294967296L // 2^32
    val c = 2654435761L   // Knuth's multiplier, < 2^32
    val id32 = pmod(id.cast("long"), lit(m32))
    val hi = floor(id32 / 65536).cast("long") // < 2^16
    val lo = id32 % 65536                     // < 2^16
    pmod(pmod(hi * c, lit(m32)) * 65536L + lo * c, lit(m32))
  }

  /** Canonical text normalization for dedup keys: lowercase, strip
    * everything outside `[a-z0-9]` + whitespace to spaces, collapse
    * whitespace runs, trim — so case/punctuation/spacing variants of
    * the same content collide (the normalization pass run before
    * exact dedup so near-trivial variants don't survive it). ASCII
    * classes and explicit whitespace sets only (`[ \t\n\r]`, never
    * `\s` — Java's `\s` and RE2's disagree on vertical tab), so
    * Java, RE2, and SQL engines normalize identically. Codegen'd
    * built-ins all the way; no shuffle. */
  private[graft] val NormStripRe = "[^a-z0-9 \\t\\n\\r]"
  private[graft] val NormWsRe = "[ \\t\\n\\r]+"

  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), NormStripRe, " "),
      NormWsRe, " "))

  /** BPE-ish token pattern: letter runs, digit runs, single non-space
    * punctuation — the word-boundary pre-split BPE vocabularies use.
    * ASCII classes only so Java and RE2-based engines agree. */
  val bpeTokenPattern: String = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]"

  /** Sub-word-ish token count over [[bpeTokenPattern]]. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeTokenPattern), lit(0))).cast("long")

  def stopwordRatio(text: Column, stop: Seq[String] = defaultStopwords): Column = {
    val tk = tokens(text)
    // zero-token text ratios define as 0.0 (ANSI mode errors on x/0)
    when(size(tk) === 0, lit(0.0))
      .otherwise(size(filter(tk, t => t.isin(stop: _*))).cast("double") / size(tk))
  }

  def distinctTokenRatio(text: Column): Column = {
    val tk = tokens(text)
    when(size(tk) === 0, lit(0.0))
      .otherwise(size(array_distinct(tk)).cast("double") / size(tk))
  }

  /** Composite quality score in [0,1]: length saturation, lexical
    * diversity, non-stopword share. Pure double arithmetic in a fixed
    * shape so engines agree bit-for-bit. */
  def qualityScore(text: Column, stop: Seq[String] = defaultStopwords): Column =
    lit(0.3) * least(lit(1.0), tokenCount(text).cast("double") / lit(100.0)) +
      lit(0.4) * distinctTokenRatio(text) +
      lit(0.3) * (lit(1.0) - stopwordRatio(text, stop))

  // ---- z-order (native expression over quantized cells) ----

  /** Morton code of pre-quantized non-negative int cell ordinates. */
  def zorderCells(cells: Seq[Column], bits: Int = 21): Column =
    toCol(ZOrder(cells.map(toExpr), bits))

  /** Quantize a double column into [0, 2^bits-1] over known bounds
    * (clamping outside values), matching graft.spatial.ZValue.quantize. */
  def quantize(v: Column, lo: Double, hi: Double, bits: Int): Column = {
    require(bits >= 1 && bits <= 30, s"quantize bits must be in [1, 30], got $bits")
    val cells = (1 << bits) - 1
    if (hi <= lo) lit(0)
    else least(greatest(floor((v - lit(lo)) / lit(hi - lo) * lit(cells)), lit(0)),
               lit(cells)).cast("int")
  }

  /** Z-order of n double coordinate columns over per-dim bounds. */
  def zorder(keys: Seq[Column], lows: Seq[Double], highs: Seq[Double],
             bits: Int = 18): Column = {
    require(keys.length == lows.length && keys.length == highs.length)
    require(keys.length * bits <= 62, "zorder overflow")
    zorderCells(keys.indices.map(i => quantize(keys(i), lows(i), highs(i), bits)), bits)
  }

  /** Word n-grams of a text column as an array: explicit `[ \t\n\r]+`
    * tokenization (the Java-regex ∩ RE2 class, so SQL oracles replay it
    * verbatim) and `array_join` over sliding slices — pure higher-order
    * built-ins, no UDF. Texts shorter than n words produce no grams.
    * Shared by the decontamination sweep and the repetition score. */
  def wordGrams(text: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    val toks = split(trim(text), "[ \\t\\n\\r]+")
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
      .otherwise(array())
  }

  /** Within-document repetition score: the fraction of duplicated word
    * n-grams, `1 - distinct/total` in [0, 1] (0 for texts shorter than
    * n words) — the standard repetitive-boilerplate quality signal of a
    * curation pipeline. Identical expression shape is writable in any
    * SQL engine, so the score is hash-oracle-able bit for bit. */
  def repetitionRatio(text: Column, n: Int = 3): Column = {
    val grams = wordGrams(text, n)
    when(size(grams) === 0, lit(0.0))
      .otherwise(lit(1.0) -
        size(array_distinct(grams)).cast("double") / size(grams).cast("double"))
  }
}

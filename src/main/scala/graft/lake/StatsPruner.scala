package graft.lake

import org.apache.spark.sql.sources._

/** File pruning from snapshot-resident stats (SURVEY.md §4):
  *
  *  1. **Hidden-partition pruning** — a predicate on the partition SOURCE
  *     column is mapped through the transform to the partition-value domain
  *     and compared against each file's exact partition value
  *     (`README.md:127` "automatically prunes partitions",
  *     `:178` "figures out exactly which files to read").
  *  2. **Min/max stats pruning** — per-file column ranges recorded at write
  *     time stand in for Iceberg's manifest stats (`README.md:138-139`).
  *
  * Conservative by construction: `mightMatch = false` only when the stats
  * PROVE no row can match; any un-translatable predicate keeps the file.
  * Since the engine re-applies every filter after the scan, pruning is a
  * pure optimization and can never change results.
  *
  * Values compare in the normalized string domain written by the stats
  * collector: timestamps as epoch micros, dates as epoch days (both
  * fixed-width-numeric → compared as BigDecimal), numerics as plain
  * decimal, strings raw (lexicographic; matches Spark's UTF8String
  * ordering for the ASCII fixture data — see compare()).
  */
object StatsPruner {

  /** Normalize a literal from a source Filter to the stats domain. */
  def normalize(value: Any): Option[Either[BigDecimal, String]] = value match {
    case null => None
    case t: java.sql.Timestamp =>
      // floorDiv: truncating division mis-rounds pre-1970 timestamps
      // (-1500ms must become -2s + 500000us = -1500000us, not -500000us)
      Some(Left(BigDecimal(
        Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)))
    case i: java.time.Instant =>
      Some(Left(BigDecimal(i.getEpochSecond * 1000000L + i.getNano / 1000)))
    case d: java.sql.Date => Some(Left(BigDecimal(d.toLocalDate.toEpochDay)))
    case d: java.time.LocalDate => Some(Left(BigDecimal(d.toEpochDay)))
    case n: java.lang.Number => Some(Left(BigDecimal(n.toString)))
    case b: Boolean => Some(Right(b.toString))
    case s: String => Some(Right(s))
    case u => Some(Right(String.valueOf(u)))
  }

  private def cmp(stat: String, lit: Either[BigDecimal, String]): Option[Int] =
    lit match {
      case Left(num) =>
        scala.util.Try(BigDecimal(stat)).toOption.map(_.compare(num))
      case Right(s) => Some(stat.compareTo(s))
    }

  /** Can any row in `file` match `filter`? (false ⇒ safe to skip file) */
  def mightMatch(file: DataFile, filter: Filter, spec: Seq[PartitionField]): Boolean =
    filter match {
      case And(l, r) =>
        mightMatch(file, l, spec) && mightMatch(file, r, spec)
      case Or(l, r) =>
        mightMatch(file, l, spec) || mightMatch(file, r, spec)
      case Not(EqualTo(a, v)) =>
        // only provably-excludable when the file is constant at v
        !provablyAllEqual(file, a, v, spec)
      case EqualTo(a, v)            => rangeMatch(file, a, v, spec, eq = true)
      case EqualNullSafe(a, v)      =>
        if (v == null) mightHaveNulls(file, a) else rangeMatch(file, a, v, spec, eq = true)
      case GreaterThan(a, v)        => boundMatch(file, a, v, spec, lower = false, strict = true)
      case GreaterThanOrEqual(a, v) => boundMatch(file, a, v, spec, lower = false, strict = false)
      case LessThan(a, v)           => boundMatch(file, a, v, spec, lower = true, strict = true)
      case LessThanOrEqual(a, v)    => boundMatch(file, a, v, spec, lower = true, strict = false)
      case In(a, vs) =>
        vs.isEmpty || vs.exists(v => rangeMatch(file, a, v, spec, eq = true))
      case IsNull(a)    => mightHaveNulls(file, a)
      case IsNotNull(a) =>
        file.stats.get(a).flatMap(_.nullCount) match {
          case Some(nc) => nc < file.rowCount
          case None     => true
        }
      case StringStartsWith(a, p) =>
        file.stats.get(a) match {
          case Some(st) =>
            // [min, max] must overlap the prefix range
            st.min.forall(m => m.take(p.length) <= p) &&
              st.max.forall(m => m.take(p.length) >= p)
          case None => true
        }
      case _ => true // unsupported → keep file
    }

  private def mightHaveNulls(file: DataFile, col: String): Boolean =
    file.stats.get(col).flatMap(_.nullCount).forall(_ > 0)

  /** Order-compare a stored partition value against a transform-mapped
    * literal in a typed domain. None ⇒ not safely comparable → no pruning
    * from the partition value (stats pruning still applies).
    *
    * The comparison domain follows the LITERAL'S TYPE, which is the
    * column's type — never "whatever the strings happen to parse as": a
    * STRING column with values '9' and '10' compares lexicographically
    * ('9' > '10', matching Spark), while an INT column compares
    * numerically (9 < 10). Picking the domain by parseability would
    * invert one of the two.
    *
    *  - identity + numeric literal: values are `cast(col, "string")` of a
    *    numeric column → re-parse as BigDecimal.
    *  - identity + string/date literal: stored form is the value itself /
    *    ISO date — lexicographic order is the column's order.
    *  - days/months/years: fixed-width ISO strings, lexicographic order is
    *    chronological order.
    */
  private def cmpPartition(
      f: PartitionField, pv: String, lv: String, literal: Any): Option[Int] =
    f.transform match {
      case "identity" => literal match {
        case _: java.lang.Number => // includes boxed scala numerics
          (scala.util.Try(BigDecimal(pv)).toOption,
           scala.util.Try(BigDecimal(lv)).toOption) match {
            case (Some(a), Some(b)) => Some(a.compare(b))
            case _ => None
          }
        case _: String => Some(pv.compareTo(lv))
        case _: java.sql.Date | _: java.time.LocalDate =>
          Some(pv.compareTo(lv)) // ISO form: lexicographic = chronological
        case _ => None
      }
      case "days" | "months" | "years" => Some(pv.compareTo(lv))
      case _ => None
    }

  private def provablyAllEqual(
      file: DataFile, col: String, v: Any, spec: Seq[PartitionField]): Boolean = {
    // identity-partition value is exact per file
    spec.find(f => f.transform == "identity" && f.source == col)
      .flatMap(f => file.partitionValues.get(f.name).zip(
        PartitionTransforms.literalToPartitionValue(f, v)))
      .exists { case (pv, lv) => pv == lv } ||
    file.stats.get(col).exists(st =>
      (for { mn <- st.min; mx <- st.max; l <- normalize(v) }
        yield cmp(mn, l).contains(0) && cmp(mx, l).contains(0) &&
          st.nullCount.forall(_ == 0L)).getOrElse(false))
  }

  /** Equality / point containment against partition value + min/max. */
  private def rangeMatch(
      file: DataFile, col: String, v: Any, spec: Seq[PartitionField],
      eq: Boolean): Boolean = {
    // 1. partition-transform pruning (exact)
    val partOk = spec.filter(_.source == col).forall { f =>
      file.partitionValues.get(f.name) match {
        case Some(pv) =>
          f.transform match {
            case b if b.startsWith("bucket[") =>
              true // bucket equality requires the hash fn; skip (conservative)
            case _ =>
              PartitionTransforms.literalToPartitionValue(f, v)
                .forall(lv => pv == lv)
          }
        case None => true
      }
    }
    // 2. min/max containment
    val statsOk = file.stats.get(col).forall { st =>
      normalize(v).forall { l =>
        st.min.flatMap(m => cmp(m, l)).forall(_ <= 0) &&
          st.max.flatMap(m => cmp(m, l)).forall(_ >= 0)
      }
    }
    // 3. bloom-filter point lookup (string columns with graft.bloom-columns)
    val bloomOk = v match {
      case s: String if eq =>
        file.blooms.get(col).forall(b64 => BloomProbe.mightContain(b64, s))
      case _ => true
    }
    partOk && statsOk && bloomOk
  }

  /** One-sided bound: col > v (lower=false) or col < v (lower=true). */
  private def boundMatch(
      file: DataFile, col: String, v: Any, spec: Seq[PartitionField],
      lower: Boolean, strict: Boolean): Boolean = {
    // partition pruning for order-preserving transforms (identity/days/...)
    val partOk = spec.filter(_.source == col).forall { f =>
      if (f.transform.startsWith("bucket[")) true
      else (file.partitionValues.get(f.name),
            PartitionTransforms.literalToPartitionValue(f, v)) match {
        case (Some(pv), Some(lv)) =>
          cmpPartition(f, pv, lv, v) match {
            // granularity-truncating transforms (days/...): strictness can't
            // exclude the boundary partition, so always allow equality
            case Some(c) => if (lower) c <= 0 else c >= 0
            case None => true // untyped comparison → keep file
          }
        case _ => true
      }
    }
    val statsOk = file.stats.get(col).forall { st =>
      normalize(v).forall { l =>
        if (lower) // need some value < v (or <= v): min must be below bound
          st.min.flatMap(m => cmp(m, l)).forall(c => if (strict) c < 0 else c <= 0)
        else
          st.max.flatMap(m => cmp(m, l)).forall(c => if (strict) c > 0 else c >= 0)
      }
    }
    partOk && statsOk
  }

  /** Above this many files the prune loop fans out across driver cores —
    * plan time on a million-file table is a pure CPU scan of the stats. */
  private val ParallelPruneMin = 4096

  /** Files that might contain rows matching ALL filters. */
  def prune(files: Seq[DataFile], filters: Seq[Filter],
      spec: Seq[PartitionField]): Seq[DataFile] =
    if (filters.isEmpty) files
    else if (files.size < ParallelPruneMin)
      files.filter(f => filters.forall(flt => mightMatch(f, flt, spec)))
    else {
      // mightMatch is pure; chunked parallel evaluation keeps plan time
      // O(files / cores) instead of one driver core walking every file.
      // Chunk size derives from the core count (2 chunks per core for
      // stragglers), floored so tiny chunks don't drown in task overhead.
      val cores = Runtime.getRuntime.availableProcessors()
      val chunkSize = math.max(512, files.size / (cores * 2) + 1)
      val chunks = files.grouped(chunkSize).toSeq
      MetaPool.mapAll(chunks, s"stats prune of ${files.size} files")(c =>
        c.filter(f => filters.forall(flt => mightMatch(f, flt, spec)))).flatten
    }

  // ---------- manifest-chunk (manifest-list level) pruning ----------

  /** Per-column stats merged over a chunk's files, for the manifest-ref
    * summary a filtered scan prunes on BEFORE loading any chunk.
    *
    * A bound's comparison domain is carried by its own parseability (the
    * stats strings are their own type tag): when every value parses
    * numerically the merged extreme is numeric (covers numerics, dates,
    * timestamps — their stats domain is epoch numbers), when none parse
    * it is lexicographic (true string domain), and a mixed column gets
    * no bound at all. [[cmpDomain]] enforces the same rule at query time
    * — a numeric bound never answers a string-literal comparison (a
    * STRING column whose values happen to look numeric orders
    * lexicographically in Spark, and the numeric extreme is not the
    * lexicographic one), it degrades to "keep the chunk".
    * A column missing from ANY file (or missing the stat) contributes no
    * chunk bound: the bound asserts a property of every row in the chunk. */
  def mergeBounds(files: Seq[DataFile]): Map[String, ColumnStats] = {
    if (files.isEmpty) return Map.empty
    val shared = files.map(_.stats.keySet).reduce(_ intersect _)
    shared.iterator.flatMap { c =>
      val sts = files.map(_.stats(c))
      val mn =
        if (sts.forall(_.min.isDefined)) domainExtreme(sts.map(_.min.get), isMin = true)
        else None
      val mx =
        if (sts.forall(_.max.isDefined)) domainExtreme(sts.map(_.max.get), isMin = false)
        else None
      val nc =
        if (sts.forall(_.nullCount.isDefined)) Some(sts.map(_.nullCount.get).sum)
        else None
      if (mn.isEmpty && mx.isEmpty && nc.isEmpty) None
      else Some(c -> ColumnStats(mn, mx, nc))
    }.toMap
  }

  private def numOpt(s: String): Option[BigDecimal] =
    scala.util.Try(BigDecimal(s)).toOption

  /** The extreme value in the column's single comparison domain: numeric
    * when all values parse, lexicographic when none do, None on a mix
    * (numeric comparisons would skip the unparseable values, so no one
    * ordering covers the whole set). */
  private def domainExtreme(vals: Seq[String], isMin: Boolean): Option[String] = {
    val nums = vals.map(numOpt)
    if (nums.forall(_.isDefined)) {
      val pairs = vals.zip(nums.map(_.get))
      Some((if (isMin) pairs.minBy(_._2) else pairs.maxBy(_._2))._1)
    } else if (nums.forall(_.isEmpty))
      Some(if (isMin) vals.min else vals.max)
    else None
  }

  /** Domain-checked bound comparison: numeric bounds compare only against
    * numeric literals, lexicographic bounds only against strings; a
    * mismatch is "no information" (None ⇒ keep the chunk). */
  private def cmpDomain(stat: String, lit: Either[BigDecimal, String]): Option[Int] =
    lit match {
      case Left(num) => numOpt(stat).map(_.compare(num))
      case Right(s) =>
        if (numOpt(stat).isDefined) None else Some(stat.compareTo(s))
    }

  /** Can any file in `ref`'s chunk match ALL `filters` (physical names)?
    * Evaluated purely on the merged bounds — partition values and blooms
    * are per-file, so only range/null rules apply, each conservative:
    * `false` ⇒ the chunk need not be loaded at all; an unbounded ref (or
    * any un-translatable predicate) always loads. */
  def chunkMightMatch(ref: ManifestRef, filters: Seq[Filter]): Boolean =
    ref.bounds.isEmpty || filters.forall(f => chunkFilterMatch(ref, f))

  private def chunkFilterMatch(ref: ManifestRef, filter: Filter): Boolean =
    filter match {
      case And(l, r) => chunkFilterMatch(ref, l) && chunkFilterMatch(ref, r)
      case Or(l, r)  => chunkFilterMatch(ref, l) || chunkFilterMatch(ref, r)
      case EqualTo(a, v)       => chunkContains(ref, a, v)
      case EqualNullSafe(a, v) =>
        if (v == null) chunkMightHaveNulls(ref, a) else chunkContains(ref, a, v)
      case GreaterThan(a, v)        => chunkBound(ref, a, v, lower = false, strict = true)
      case GreaterThanOrEqual(a, v) => chunkBound(ref, a, v, lower = false, strict = false)
      case LessThan(a, v)           => chunkBound(ref, a, v, lower = true, strict = true)
      case LessThanOrEqual(a, v)    => chunkBound(ref, a, v, lower = true, strict = false)
      case In(a, vs) => vs.isEmpty || vs.exists(v => chunkContains(ref, a, v))
      case IsNull(a) => chunkMightHaveNulls(ref, a)
      case IsNotNull(a) =>
        ref.bounds.get(a).flatMap(_.nullCount) match {
          case Some(nc) => nc < ref.rowCount
          case None     => true
        }
      case Not(EqualTo(a, v)) =>
        // provably excludable only when every row in the chunk equals v
        !ref.bounds.get(a).exists(st =>
          (for { mn <- st.min; mx <- st.max; l <- normalize(v) }
            yield cmpDomain(mn, l).contains(0) && cmpDomain(mx, l).contains(0) &&
              st.nullCount.forall(_ == 0L)).getOrElse(false))
      case StringStartsWith(a, p) =>
        ref.bounds.get(a) match {
          case Some(st) =>
            // lexicographic-domain bounds only (numeric-parse = numeric)
            st.min.forall(m => numOpt(m).isDefined || m.take(p.length) <= p) &&
              st.max.forall(m => numOpt(m).isDefined || m.take(p.length) >= p)
          case None => true
        }
      case _ => true // unsupported → load the chunk
    }

  private def chunkMightHaveNulls(ref: ManifestRef, col: String): Boolean =
    ref.bounds.get(col).flatMap(_.nullCount).forall(_ > 0)

  private def chunkContains(ref: ManifestRef, col: String, v: Any): Boolean =
    ref.bounds.get(col).forall { st =>
      normalize(v).forall { l =>
        st.min.flatMap(cmpDomain(_, l)).forall(_ <= 0) &&
          st.max.flatMap(cmpDomain(_, l)).forall(_ >= 0)
      }
    }

  private def chunkBound(ref: ManifestRef, col: String, v: Any,
      lower: Boolean, strict: Boolean): Boolean =
    ref.bounds.get(col).forall { st =>
      normalize(v).forall { l =>
        if (lower)
          st.min.flatMap(cmpDomain(_, l)).forall(c => if (strict) c < 0 else c <= 0)
        else
          st.max.flatMap(cmpDomain(_, l)).forall(c => if (strict) c > 0 else c >= 0)
      }
    }
}

/** Driver-side probe of the per-file bloom filters written under
  * `graft.bloom-columns`. The sketch stores xxhash64(value) longs (what
  * BloomFilterAggregate's update inserts), so the probe evaluates the same
  * catalyst XxHash64 on the literal — byte-identical hashing by
  * construction. Deserialized filters are memoized: a query probing 10k
  * files decodes each file's sketch once, not once per predicate. */
private[lake] object BloomProbe {

  private[lake] val MaxEntries = 4096

  // access-ordered LRU: a prune loop over MORE files than the cap evicts
  // only the coldest sketches instead of clearing the world and
  // re-decoding every sketch each pass (the old clear() thrashed there)
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, org.apache.spark.util.sketch.BloomFilter](
      256, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, org.apache.spark.util.sketch.BloomFilter])
          : Boolean = size() > MaxEntries
    })

  def mightContain(b64: String, value: String): Boolean = {
    val cached = cache.get(b64)
    val bf =
      if (cached != null) cached
      else {
        // racing decoders are idempotent — last put wins, both correct
        val decoded = org.apache.spark.util.sketch.BloomFilter.readFrom(
          java.util.Base64.getDecoder.decode(b64))
        cache.put(b64, decoded)
        decoded
      }
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.types.StringType
    val h = new XxHash64(Seq(Literal.create(value, StringType)))
      .eval(null).asInstanceOf[Long]
    bf.mightContainLong(h)
  }
}

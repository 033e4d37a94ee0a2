package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Constants._

/** Shared vocabulary of the query catalog: the `Q` record, table readers
  * (`t` / `normalizeTs`), memoized registries, deterministic-uniform and
  * BPE oracle helpers, and the streaming start scope. The catalog family
  * files (`queries/<Family>Catalog.scala`) import this wholesale;
  * `graft.Queries` re-exports the public pieces. */
private[graft] object QueryDsl {

  case class Q(
      name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  /** events.ts has shipped in three encodings across testdata generations:
    * parquet TIMESTAMP(NANOS) read as long nanos (session sets
    * spark.sql.legacy.parquet.nanosAsLong), plain micros TIMESTAMP_NTZ,
    * or TIMESTAMP. Canonicalize all three to a TIMESTAMP whose UTC wall
    * clock equals the stored wall clock — DuckDB's timezone('UTC', ts)
    * view of the same file. graft sessions set
    * spark.sql.parquet.inferTimestampNTZ.enabled=false, so the NTZ file
    * column already arrives as a UTC-instant TIMESTAMP (session-tz
    * INDEPENDENT — a bare cast would capture the session zone at analysis
    * time and silently shift under scoped session-zone overrides, which is
    * how q80 broke when the testdata encoding changed). The NTZ branch
    * below is a fallback for foreign sessions without that conf: it pins
    * the interpretation to UTC explicitly via convert_timezone against
    * the session zone captured at construction. Long nanos convert with
    * integer arithmetic (no double round-trip, so no precision loss). */
  private[graft] def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        val z = df.sparkSession.sessionState.conf.sessionLocalTimeZone
        df.withColumn("ts",
          convert_timezone(lit("UTC"), lit(z), col("ts")).cast(TimestampType))
      case _ => df
    }
  }

  private[graft] def t(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeTs(spark.read.parquet(s"$dir/$name.parquet"))

  /** Every directory a catalog query or fixture writes lives under one
    * scratch root per JVM, deleted by a shutdown hook, so runs leave
    * nothing behind in `java.io.tmpdir`. The delete does not follow
    * symlinks: the streaming queries' links to the events file are
    * unlinked, never their targets. */
  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-scratch")
    sys.addShutdownHook(
      scala.util.Try(org.apache.spark.network.util.JavaUtils.deleteRecursively(root.toFile)))
    root
  }

  /** A fresh directory under the JVM's scratch root. */
  private[graft] def scratch(prefix: String): String =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix).toString

  private val memos =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), (SparkSession, Any)]

  /** Build a fixture (a registry, a written fixture dir, a materialized
    * view) once per (sf dir, kind, Spark application): data preparation,
    * not query work. The key includes the application id because a
    * memoized value can hold its SparkSession, so a fresh session in the
    * same JVM must rebuild. Entries whose session has stopped are dropped
    * so a long-lived JVM that cycles sessions doesn't accumulate dead
    * object graphs. */
  private[graft] def memo[A](s: SparkSession, dir: String, kind: String)(build: => A): A = {
    memos.filterInPlace((_, v) => !v._1.sparkContext.isStopped)
    memos.getOrElseUpdate((dir, kind, s.sparkContext.applicationId), (s, build))._2.asInstanceOf[A]
  }

  // ------------------------------------------------------------------
  // Relational core
  // ------------------------------------------------------------------

  /** Build both shared registries eagerly — callers that want registration
    * (data prep) off their own clock, e.g. the bench harness's untimed
    * warmup, call this before the timed loop. */
  def prewarmRegistries(s: SparkSession, dir: String): Unit = {
    coreRegistry(s, dir)
    meterRegistry(s, dir)
  }

  /** Shared project registries over the test tables: registration is data
    * preparation, not query work — the reference's queries run against
    * pre-registered projects too, and every other catalog query reads
    * pre-existing parquet. Two roots because the TPC-H-derived project and
    * the events-derived metering project define different `geography`
    * dimension records.
    *
    * Core project: accounts/cust_bal/supp_bal datasets, nation→region
    * mapping, region-level geography records, sector records. */
  private[graft] def coreRegistry(s: SparkSession, dir: String): graft.registry.Registry =
    memo(s, dir, "core") {
      import graft.registry.Registry
      val reg = Registry(s, scratch("graft-registry-core"))
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      Registry.registerDataset(reg, "accounts",
        c.select(
          col("c_nationkey").cast("string").as("geography"),
          col("c_mktsegment").as("sector"),
          col("c_acctbal").as(ValueColumn)))
      Registry.registerDataset(reg, "cust_bal",
        c.select(
          col("c_nationkey").cast("string").as("nation_code"),
          col("c_acctbal").as(ValueColumn)))
      Registry.registerDataset(reg, "supp_bal",
        t(s, dir, "supplier").select(
          col("s_nationkey").cast("string").as("geo_id"),
          col("s_acctbal").as(ValueColumn)))
      Registry.registerMapping(reg, "nation_to_region",
        n.join(r, n("n_regionkey") === r("r_regionkey")).select(
          col("n_nationkey").cast("string").as(FromIdColumn),
          col("r_name").as(ToIdColumn),
          lit(1.0).as(FromFractionColumn)))
      Registry.registerDimension(reg, "geography",
        r.select(col("r_name").as("id"), lower(col("r_name")).as("name")))
      Registry.registerDimension(reg, "sector",
        c.select(col("c_mktsegment").as("id"), lower(col("c_mktsegment")).as("name")).distinct())
      reg
    }

  /** Metering project: per-user-bucket events with tz-carrying geography. */
  private[graft] def meterRegistry(s: SparkSession, dir: String): graft.registry.Registry =
    memo(s, dir, "meter") {
      import graft.registry.Registry
      import s.implicits._
      val reg = Registry(s, scratch("graft-registry-meter"))
      val e = t(s, dir, "events")
      Registry.registerDataset(reg, "meter",
        e.select(
          concat(lit("g"), (col("user_id") % 3).cast("string")).as("geography"),
          col("ts").as("timestamp"),
          col("value").as(ValueColumn)))
      Registry.registerDimension(reg, "geography",
        Seq(
          ("g0", "geo zero", "America/New_York"),
          ("g1", "geo one", "America/Denver"),
          ("g2", "geo two", "UTC")).toDF("id", "name", "time_zone"))
      reg
    }

  /** Cross-engine-replayable uniform for the sampling catalog queries:
    * a Knuth multiplicative mix of the id plus a seed offset, in long
    * space (products stay < 2^62 for test-data ids, safe under ANSI) —
    * the same arithmetic is spelled in the DuckDB oracles. Production
    * callers keep the xxhash64 default; the INJECTION POINT is what these
    * queries exercise. */
  private[graft] val KnuthA = 2654435761L

  private[graft] val UniformM = 1000000000L

  private[graft] def seedOffset(seed: String): Long =
    seed.foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)

  private[graft] def knuthUniform(key: Column, seed: String): Column =
    pmod(key.cast("long") * lit(KnuthA) + lit(seedOffset(seed)), lit(UniformM))
      .cast("double") / lit(UniformM.toDouble)

  private[graft] def knuthUniformSql(keyExpr: String, seed: String): String =
    s"(($keyExpr * $KnuthA + ${seedOffset(seed)}) % $UniformM) / $UniformM.0"

  /** DuckDB word-trigram shingle sets `(doc_id, shingles)` of relation
    * `src`'s documents — lowercased, non-alphanumerics blanked, a document
    * of at most 3 tokens its own single shingle: the oracles' spelling of
    * [[graft.text.Dedup.shingleSets]]. */
  private[graft] def shingleSetsSql(src: String): String =
    """SELECT doc_id,
                list_distinct(CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')) END) AS shingles
              FROM (SELECT doc_id,
                list_filter(regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), '\s+'), x -> len(x) > 0) AS toks
                FROM """ + src + ")"

  /** Shared q69/q82 fixture: the first 2000 documents plus two clipped
    * copies (1 and 2 trailing tokens removed, ids offset by 1M/2M), so
    * near-dup components of known shape exist. The clip length is clamped
    * at 0: Spark's `slice` throws on a negative length while DuckDB's
    * list slicing would wrap negative indices — the clamp keeps both
    * engines total and identical on degenerate short documents. */
  private[graft] def clippedNearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text")).filter(col("doc_id") < 2000)
    def clip(n: Int, offset: Long) = {
      val toks = split(trim(col("text")), "\\s+")
      d.select(
        (col("doc_id") + offset).as("doc_id"),
        array_join(slice(toks, lit(1), greatest(size(toks) - n, lit(0))), " ").as("text"))
    }
    d.unionByName(clip(1, 1000000L)).unionByName(clip(2, 2000000L))
  }

  /** The matching DuckDB CTE chain: corpus construction, shingle sets,
    * exact-Jaccard pairs, and connected components via recursive walk
    * (ends with `roots(id, root)`). Shared verbatim by q69/q82/q120 so the
    * oracles can never drift apart.
    *
    * Pairs are spelled as an inverted-index join (unnest shingles, join on
    * shared shingle, COUNT(*) = |A∩B|, union by inclusion-exclusion) rather
    * than the exhaustive all-pairs `list_intersect` — identical ground
    * truth (any pair with Jaccard ≥ 0.8 > 0 shares a shingle; distinct
    * shingle sets make the equi-join count the exact intersection) but
    * near-linear: Σ df(sh)² join rows instead of n²/2 list intersections.
    * The exhaustive form blew the driver's correctness-gate budget
    * (~190 s/oracle at sf0.01, the r6/r7 `{}` outage); this runs in ~3 s. */
  private[graft] val nearDupComponentsCte: String =
    raw"""corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 2000
              UNION ALL
              SELECT doc_id + 1000000, array_to_string(toks[1:greatest(len(toks)-1, 0)], ' ')
              FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                    FROM documents WHERE doc_id < 2000)
              UNION ALL
              SELECT doc_id + 2000000, array_to_string(toks[1:greatest(len(toks)-2, 0)], ' ')
              FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                    FROM documents WHERE doc_id < 2000)),
            sh AS (
              ${shingleSetsSql("corpus")}),
            shsz AS (SELECT doc_id, len(shingles) AS sz FROM sh),
            shex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
            shinter AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS ic
              FROM shex a JOIN shex b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            pairs AS (
              SELECT id1, id2
              FROM shinter JOIN shsz sa ON sa.doc_id = id1 JOIN shsz sb ON sb.doc_id = id2
              WHERE CAST(ic AS DOUBLE) / (sa.sz + sb.sz - ic) >= 0.8),
            edges AS (
              SELECT id1 AS a, id2 AS b FROM pairs
              UNION SELECT id2, id1 FROM pairs),
            walk(id, reach) AS (
              SELECT a, a FROM (SELECT DISTINCT a FROM edges)
              UNION
              SELECT w.id, e.b FROM walk w JOIN edges e ON w.reach = e.a),
            roots AS (SELECT id, MIN(reach) AS root FROM walk GROUP BY id)"""

  /** DuckDB replay of [[graft.text.TextFunctions.languageIdFromTokens]]
    * over a distinct-token list column `toks`: one `s_<lang>` overlap
    * score per language profile (`langScoresSql`), and their argmax as one
    * expression (`langArgmaxSql`) — the engine's fold, starting at
    * ('und', 0), where only a strictly greater score replaces. */
  private[graft] def langScoresSql(toks: String): String =
    graft.text.TextFunctions.languageProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      s"len(list_intersect($toks, [${words.map(w => s"'$w'").mkString(", ")}])) AS s_$lang"
    }.mkString(", ")

  private[graft] val langArgmaxSql: String =
    graft.text.TextFunctions.languageProfiles.toSeq.sortBy(_._1)
      .foldLeft(("'und'", "0")) { case ((bl, bs), (lang, _)) =>
        (s"(CASE WHEN s_$lang > $bs THEN '$lang' ELSE $bl END)",
          s"(CASE WHEN s_$lang > $bs THEN s_$lang ELSE $bs END)")
      }._1

  /** DuckDB replay of `Bpe.trainMerges` for `k` rounds: per round, weighted
    * adjacent-pair counts over the word table, argmax with the same
    * (count desc, lexicographic) tie-break, then the greedy merge applied
    * via a `list_reduce` accumulator (bit-equivalent to the single-pass
    * scan: a freshly merged symbol never re-matches as the left side in the
    * same pass). Generated, not hand-written, so the round count is free.
    * Interpolated fragments carry no backslashes (the s-interpolator
    * processes escapes even in triple quotes); raw regex lives in `normSql`
    * / `wsSql`. */
  private[graft] val normSql =
    """trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))"""

  private[graft] val wsSql = """'\s+'"""

  private[graft] def bpeRoundsSql(k: Int): String = {
    val base = s"""w0 AS (
        SELECT regexp_extract_all(word, '.') AS syms, COUNT(*) AS cnt
        FROM (SELECT u.word AS word
              FROM (SELECT list_filter(regexp_split_to_array($normSql, $wsSql), x -> x <> '') AS toks
                    FROM documents) t, UNNEST(t.toks) AS u(word))
        GROUP BY word)"""
    val rounds = (1 to k).map { r =>
      s""",
      p$r AS (SELECT syms[i] AS l, syms[i + 1] AS r2, SUM(cnt) AS c
              FROM w${r - 1}, UNNEST(range(1, len(syms))) AS u(i) GROUP BY 1, 2),
      b$r AS (SELECT l, r2, c FROM p$r WHERE c >= 2 ORDER BY c DESC, l, r2 LIMIT 1),
      w$r AS (SELECT list_reduce(list_transform(w.syms, s -> [s]),
                      (acc, x) -> CASE WHEN b.l IS NOT NULL AND acc[len(acc)] = b.l AND x[1] = b.r2
                                       THEN list_append(acc[1:len(acc) - 1], b.l || b.r2)
                                       ELSE list_concat(acc, x) END) AS syms, w.cnt AS cnt
              FROM w${r - 1} w LEFT JOIN b$r b ON TRUE)"""
    }.mkString
    base + rounds
  }

  private[graft] def bpeOracleSql(k: Int): String = {
    val union = (1 to k)
      .map(r => s"SELECT $r AS rank, l, r2 AS r, c AS cnt FROM b$r")
      .mkString(" UNION ALL ")
    s"""WITH ${bpeRoundsSql(k)}
        SELECT CAST(rank AS BIGINT) AS rank, l, r, CAST(cnt AS BIGINT) AS cnt
        FROM ($union) ORDER BY rank"""
  }

  /** The DuckDB replay of [[graft.operators.Linkage.flog2fp]] — the
    * established fixed-point floor-log₂ macro (q90/q237/q329/q334). */
  private[graft] def flog(x: String) =
    s"(16 * (length(bin($x)) - 1) - 16 + (($x) * 16) // (1::BIGINT << (length(bin($x)) - 1)))"

  /** Catalog-side alias for [[graft.streaming.StreamOps.scopedStreamStart]]
    * (the scoping logic lives with the streaming operators since r18 so
    * the library surface and the bench warm-up share one copy). */
  private[graft] def scopedStreamStart[A](s: SparkSession)(start: => A): A =
    graft.streaming.StreamOps.scopedStreamStart(s)(start)
}

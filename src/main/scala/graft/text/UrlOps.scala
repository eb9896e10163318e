package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization + registrable-domain (eTLD+1) extraction — the
  * group-by key of every web-scale corpus (crawl dedup, per-site
  * quality stats, robots/blocklist rollups all key on the registrable
  * domain, not the raw host).
  *
  * Canonicalization contract (pinned; the DuckDB oracle replays the
  * identical regex decomposition):
  *   - scheme and host lowercase,
  *   - default ports dropped (`:80` for http, `:443` for https —
  *     compared NUMERICALLY, so zero-padded variants like `:080` drop
  *     too; other ports kept, re-emitted as canonical digits),
  *   - the fragment dropped,
  *   - `utm_*` tracking params dropped, remaining params kept in
  *     original order (`?` dropped when nothing survives),
  *   - empty path → `/`; a non-root path loses ONE trailing slash.
  * Malformed rows (no `scheme://`) canonicalize to NULL — no ANSI
  * landmine, same on both engines.
  *
  * eTLD+1 resolution is a LONGEST-SUFFIX join against a snapshot
  * public-suffix table (the publicsuffix.org dataset is the production
  * snapshot; tests and the catalog pin a subset): a host's candidate
  * suffixes (every label-suffix) join the broadcast snapshot, the
  * longest match with at least one label to its left wins, and
  * eTLD+1 = that label + the suffix. A host WITHOUT a left label (the
  * host IS a public suffix) has no registrable domain → NULL. A host
  * matching no suffix falls back to the PSL default rule `*` (TLD =
  * last label): eTLD+1 = last two labels, NULL for single-label hosts.
  *
  * Scale shape: candidates are a narrow per-host explode bounded by
  * label count (≤ ~6), the suffix snapshot (~10k rows for the real
  * PSL) broadcasts, and resolution runs on DISTINCT hosts only — the
  * fact-table join back is a broadcast-able host → eTLD+1 map for any
  * real crawl's host cardinality, or a plain shuffle join beyond it.
  */
object UrlOps {

  /** One-pass decomposition of `url` by the anchored URL regex of
    * [[org.apache.spark.sql.graft.UrlKernel]] into
    * struct<scheme, auth, path, query> with EXACT per-group
    * `regexp_extract` semantics (empty string on no-match / absent
    * group, null on null input). canonicalizeUrl +
    * urlHost previously ran the regex 4+ times per row (one
    * regexp_extract per group plus the malformed guard; measured
    * code-real 1.23x on q421 after the r14 NULL-host fix added the
    * guard — `artifacts/r15opt/ab_q421_attr.log`). Common-subexpression
    * elimination merges only calls in always-evaluated positions, so a
    * call inside a CASE branch still runs its own match. */
  private def urlParts(url: Column): Column =
    graft.functions.gfunctions.call("url_parts",
      org.apache.spark.sql.graft.UrlKernel, "parts",
      org.apache.spark.sql.graft.UrlKernel.schema,
      Seq(org.apache.spark.sql.types.StringType), Seq(url))

  private def hostFromParts(p: Column): Column = {
    val noUser = regexp_replace(p.getField("auth"), "^[^@]*@", "")
    when(p.getField("scheme") === "", lit(null).cast("string"))
      .otherwise(lower(regexp_replace(noUser, ":[0-9]*$", "")))
  }

  /** Lowercased host (authority minus port + userinfo) of a URL; NULL
    * for inputs that don't parse as `scheme://...` — the same guard as
    * [[canonicalizeUrl]], so malformed rows never flow into
    * registrable-domain grouping as host "" (round-15 ADVICE). */
  def urlHost(url: Column): Column = hostFromParts(urlParts(url))

  /** Canonical form per the contract above; NULL for rows that don't
    * parse as `scheme://...`. Pure expressions — one compiled regex
    * decomposition ([[urlParts]]), array filter for the params, no
    * UDF. */
  def canonicalizeUrl(url: Column): Column = {
    val p = urlParts(url)
    val scheme = lower(p.getField("scheme"))
    val host = hostFromParts(p)
    val port = regexp_extract(p.getField("auth"), ":([0-9]+)$", 1)
    // numeric compare so zero-padded default ports (":080", ":0443")
    // drop too (round-15 ADVICE); the kept port is re-emitted as its
    // canonical digits (no leading zeros) for the same reason. The
    // when-guard (not bare cast) keeps the empty string out of the
    // cast, so ANSI mode can't throw regardless of evaluation order.
    val portNum = when(port =!= "", port).cast("int")
    val keepPort = port =!= "" &&
      !(scheme === "http" && portNum === 80) &&
      !(scheme === "https" && portNum === 443)
    val rawPath = p.getField("path")
    val path = when(rawPath === "" || rawPath === "/", lit("/"))
      .otherwise(regexp_replace(rawPath, "/$", ""))
    val rawQ = p.getField("query")
    val kept = filter(split(rawQ, "&"),
      x => !(x.startsWith("utm_") || x === ""))
    val q = array_join(kept, "&")
    when(p.getField("scheme") === "", lit(null).cast("string"))
      .otherwise(concat(
        scheme, lit("://"), host,
        when(keepPort, concat(lit(":"), portNum.cast("string")))
          .otherwise(lit("")),
        path,
        when(q =!= "", concat(lit("?"), q)).otherwise(lit(""))))
  }

  /** Adds `outCol` = registrable domain (eTLD+1) of `hostCol`, resolved
    * against the snapshot `suffixes` table (single column `suffix`,
    * lowercase, dot-separated labels, no leading dot). Resolution runs
    * per DISTINCT host; `suffixes` is always broadcast (~10k rows for
    * the real PSL).
    *
    * The host → eTLD+1 join BACK is a size dispatch (round-15: the
    * scaladoc promised shuffle degrade but the hint was unconditional):
    * up to `broadcastHostThreshold` distinct hosts the resolved map
    * broadcasts (one count on the distinct-host relation — the same
    * eager-dispatch pattern as Rfm/eigenvector); beyond it the join is
    * a plain shuffle on the host key. ~10M hosts ≈ 500 MB map is the
    * practical broadcast ceiling on a large-executor cluster; a full
    * crawl's 100M+ host table must shuffle. */
  def registrableDomain(df: DataFrame, hostCol: String,
                        suffixes: DataFrame,
                        outCol: String = "etld1",
                        broadcastHostThreshold: Long =
                          graft.util.Dispatch.threshold(10000000L)): DataFrame = {
    val hosts = df.select(col(hostCol).as("__host")).distinct()
      .filter(col("__host").isNotNull)
      .withColumn("__labels", split(col("__host"), "\\."))
      .withColumn("__n", size(col("__labels")))
    // every label-suffix of the host, tagged with its label count
    val cands = hosts
      .select(col("__host"), col("__labels"), col("__n"),
        explode(sequence(lit(1), col("__n"))).as("__i"))
      .withColumn("__cand",
        array_join(slice(col("__labels"), col("__i"),
          col("__n") - col("__i") + 1), "."))
      .withColumn("__slen", col("__n") - col("__i") + 1)
    val matched = cands
      .join(broadcast(suffixes.select(col("suffix").as("__cand"))), Seq("__cand"))
      .groupBy("__host").agg(max(col("__slen")).as("__L"))
    val resolved = hosts.join(matched, Seq("__host"), "left")
      .select(col("__host"),
        when(col("__L").isNotNull && col("__n") > col("__L"),
          array_join(slice(col("__labels"),
            col("__n") - col("__L"), col("__L") + 1), "."))
          .when(col("__L").isNull && col("__n") >= 2,
            array_join(slice(col("__labels"), col("__n") - 1, lit(2)), "."))
          .otherwise(lit(null).cast("string")).as(outCol))
    val nHosts = hosts.count()
    val right =
      if (nHosts <= broadcastHostThreshold) broadcast(resolved) else resolved
    df.join(right, df(hostCol) === resolved("__host"), "left").drop("__host")
  }

  /** Robots-style longest-prefix path rules — the crawl-filter step of
    * every web pipeline: for each (host, path) row the MOST SPECIFIC
    * rule from the snapshot `rules` table (columns host, path_prefix,
    * allow BOOLEAN) decides, rules of equal length resolve ALLOW-wins
    * (the REP tie convention), and a row matching no rule is allowed
    * (the robots default). Adds `outCol` BOOLEAN.
    *
    * Scale shape: the rules snapshot is domain-bounded and broadcasts;
    * matching is ONE broadcast join (host equality + startsWith — no
    * explode, no per-rule scan) and one per-id max over the struct
    * (prefix length, allow), then an id-grain join back. At 100 TB the
    * fact side streams through map-side work only.
    *
    * Contract: `idCol` must uniquely identify rows of `df` — the
    * winning rule aggregates PER ID, so two rows sharing an id would
    * have their rule matches merged into one verdict applied to both
    * (round-15 ADVICE). URL-grain frames keyed by canonical URL or a
    * row id satisfy it; every caller in this repo keys on a primary
    * key (q424/q428: c_custkey). */
  def applyPathRules(df: DataFrame, idCol: String, hostCol: String,
                     pathCol: String, rules: DataFrame,
                     outCol: String = "allowed"): DataFrame = {
    val r = broadcast(rules.select(col("host").as("__rh"),
      col("path_prefix").as("__rp"),
      col("allow").cast("int").as("__ra")))
    val best = df.select(col(idCol), col(hostCol), col(pathCol))
      .join(r, col(hostCol) === col("__rh") &&
        col(pathCol).startsWith(col("__rp")))
      .groupBy(col(idCol))
      .agg(max(struct(length(col("__rp")).as("l"), col("__ra").as("a")))
        .as("__best"))
      .select(col(idCol), (col("__best.a") === 1).as(outCol))
    df.join(best, Seq(idCol), "left")
      .withColumn(outCol, coalesce(col(outCol), lit(true)))
  }
}

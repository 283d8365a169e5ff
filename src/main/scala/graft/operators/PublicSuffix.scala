package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Public Suffix List semantics (publicsuffix.org/list) — the registrable-
  * domain fold that domain share caps, robots scoping, and re-crawl dedup
  * all key on. The reference has no URL surface at all (SURVEY.md §2.1);
  * this replaces the r14 two-label heuristic, whose hard-coded
  * "second-level under a 2-letter ccTLD" rule mis-bucketed every
  * multi-label suffix (`pvt.k12.ma.us`), wildcard TLD (`*.ck`), and
  * exception (`!www.ck`) in the long tail.
  *
  * The ALGORITHM is the official one, implemented in full:
  *   1. a rule matches when its labels equal the host's trailing labels
  *      (`*` matches exactly one label);
  *   2. an exception rule (`!…`) prevails over every other match;
  *   3. otherwise the matching rule with the most labels prevails;
  *   4. no match → the implicit `*` rule (the bare TLD);
  *   5. public suffix = the prevailing rule's span (minus the leading
  *      label for an exception); registrable domain = suffix + 1 label.
  *
  * The LIST is data, not code, and ships BOTH ways: [[listText]] is a
  * curated snapshot in the official wire format (`//` comments, wildcard
  * and `!` exception rules) covering the dominant ccTLD families and
  * every structural case — the plan-compiled default; [[officialRules]]
  * is the FULL official publicsuffix.org file bundled as a resource
  * (~9.5k rules, IDN rules twinned into punycode at parse).
  * [[registrableDomains]] auto-selects compiled-vs-dim by rule count.
  * Official checkPublicSuffix test vectors for the covered families are
  * pinned in UrlOpsSpec; the COMPLETE official vector file runs against
  * [[officialRules]] on all evaluators in PslOfficialSpec.
  *
  * Scale shape: [[registrableDomain]] COMPILES the rule set at plan time
  * into a CASE chain over `substring_index` suffix probes and `isin` set
  * membership (Catalyst rewrites the large `In` literals to hashed
  * `InSet`), so the fold is a pure codegen'd projection — no UDF, no
  * join, no shuffle; at 100 TB it rides the scan like any other Column.
  * The rule-set constant broadcasts with the plan (a few KiB — the full
  * official list is ~250 KiB, still plan-sized).
  */
object PublicSuffix {

  /** Parsed rule set, grouped the way both evaluators consume it:
    * `exact` plain rules, `wildcardBase` = the base (labels after `*.`)
    * of each wildcard rule, `exception` = exception rules with the `!`
    * stripped. All lowercase.
    */
  final case class Rules(exact: Set[String], wildcardBase: Set[String],
      exception: Set[String]) {
    def maxLabels: Int =
      (exact.iterator.map(labelsOf) ++
        wildcardBase.iterator.map(labelsOf(_) + 1) ++
        exception.iterator.map(labelsOf)).foldLeft(1)(math.max)
  }

  private def labelsOf(s: String): Int = s.count(_ == '.') + 1

  /** Parse the official PSL wire format: one rule per line, `//` comment
    * lines and blanks skipped, leading `*.` marks a wildcard, leading `!`
    * an exception; rules lowercased. The official file carries IDN rules
    * in UNICODE form (`公司.cn`); hosts arrive in EITHER form, so every
    * non-ASCII rule also contributes its punycoded twin (RFC 3490
    * ToASCII via `java.net.IDN` — exactly what libpsl's canonicalization
    * does), which is what makes the punycoded half of the official
    * checkPublicSuffix vectors pass.
    */
  def parse(text: String): Rules = {
    def punyTwin(r: String): Option[String] =
      if (r.forall(_ < 128)) None
      else try {
        val t = java.net.IDN.toASCII(r, java.net.IDN.ALLOW_UNASSIGNED)
          .toLowerCase
        if (t == r) None else Some(t)
      } catch { case _: IllegalArgumentException => None }
    val rules = text.linesIterator
      .map(_.trim.toLowerCase)
      .filter(l => l.nonEmpty && !l.startsWith("//"))
      .map(_.takeWhile(!_.isWhitespace))
      .toVector
    def withTwins(rs: Vector[String]): Set[String] =
      (rs ++ rs.flatMap(punyTwin)).toSet
    Rules(
      exact = withTwins(
        rules.filter(r => !r.startsWith("*.") && !r.startsWith("!"))),
      wildcardBase = withTwins(rules.filter(_.startsWith("*.")).map(_.drop(2))),
      exception = withTwins(rules.filter(_.startsWith("!")).map(_.drop(1))))
  }

  /** Interpreted evaluator (driver-side: tests, tools): the public-suffix
    * LABEL COUNT of a lowercase host under `rules`. Exceptions first,
    * then longest match, then the implicit `*`.
    */
  def publicSuffixLabels(host: String, rules: Rules): Int = {
    val labels = host.split('.')
    val n = labels.length
    def lastK(k: Int): String = labels.drop(n - k).mkString(".")
    val exc = (1 to n).filter(k => rules.exception.contains(lastK(k)))
    if (exc.nonEmpty) exc.max - 1
    else {
      val hits = (1 to n).filter(k => rules.exact.contains(lastK(k))) ++
        (2 to n).filter(k => rules.wildcardBase.contains(lastK(k - 1)))
      if (hits.isEmpty) 1 else hits.max
    }
  }

  /** Interpreted registrable domain: suffix + one label; None when the
    * host IS a public suffix (or shorter), and None for a syntactically
    * invalid host (empty, or an empty label from a leading/trailing/
    * doubled dot — the official checkPublicSuffix null cases). */
  def registrableDomainOf(host: String, rules: Rules): Option[String] = {
    val h = host.toLowerCase
    val labels = h.split('.')
    if (h.isEmpty || h.endsWith(".") || labels.isEmpty ||
      labels.exists(_.isEmpty)) None
    else {
      val ps = publicSuffixLabels(h, rules)
      if (labels.length > ps)
        Some(labels.drop(labels.length - ps - 1).mkString("."))
      else None
    }
  }

  /** Registrable domain as a compiled Column over a lowercase host column
    * — the official algorithm as one codegen'd CASE chain: for each label
    * count k (descending), probe the host's trailing-k suffix against the
    * exception set (registrable = those k labels), then exact rules and
    * wildcard bases at k (registrable = k+1 trailing labels). A host AT
    * or BELOW its public suffix folds to itself (the graceful dim-key
    * behavior [[UrlOps.domainCap]] wants — there is nothing to cap).
    */
  def registrableDomain(host: Column, rules: Rules = defaultRules): Column = {
    val n = size(split(host, "\\."))
    def lastK(k: Int): Column = substring_index(host, ".", -k)
    def inSet(c: Column, s: Set[String]): Column =
      if (s.isEmpty) lit(false) else c.isin(s.toSeq.sorted: _*)
    val maxK = rules.maxLabels
    // exceptions prevail over every other rule, longest first
    val excBranches = (maxK to 1 by -1).flatMap { k =>
      val ex = rules.exception.filter(labelsOf(_) == k)
      if (ex.isEmpty) None
      else Some((n >= k && inSet(lastK(k), ex), lastK(k)))
    }
    // exact rules at k and wildcard rules `*.base` with a k-1-label base
    // both put the public suffix at k labels; longest k prevails
    val ruleBranches = (maxK to 2 by -1).flatMap { k =>
      val exk = rules.exact.filter(labelsOf(_) == k)
      val wbk = rules.wildcardBase.filter(labelsOf(_) == k - 1)
      if (exk.isEmpty && wbk.isEmpty) None
      else {
        val hit = (n >= k && inSet(lastK(k), exk)) ||
          (n >= k && inSet(lastK(k - 1), wbk))
        Some((hit, when(n > k, lastK(k + 1)).otherwise(host)))
      }
    }
    val dflt = when(n > 1, lastK(2)).otherwise(host) // implicit `*` rule
    (excBranches ++ ruleBranches)
      .foldRight(dflt) { case ((cond, res), els) => when(cond, res).otherwise(els) }
  }

  /** The rule set as a (suffix, kind, labels) frame — the broadcast-dim
    * deployment shape for the full official list (longest-suffix match by
    * exploding each host's candidate suffixes and joining). The compiled
    * [[registrableDomain]] is preferred when the list is known at plan
    * time; this dim exists for list hot-swap without re-planning.
    */
  def rulesDim(spark: SparkSession, rules: Rules = defaultRules): DataFrame = {
    import spark.implicits._
    (rules.exact.toSeq.sorted.map((_, "exact")) ++
      rules.wildcardBase.toSeq.sorted.map((_, "wildcard_base")) ++
      rules.exception.toSeq.sorted.map((_, "exception")))
      .map { case (s, k) => (s, k, labelsOf(s)) }
      .toDF("suffix", "kind", "n_labels")
  }

  /** Registrable domain via the BROADCAST-DIM path — the deployment
    * shape for the full official list when it must hot-swap without
    * re-planning (the compiled [[registrableDomain]] bakes the rule set
    * into the plan): explode each host's n candidate trailing suffixes,
    * broadcast-join the rules dim once, and fold the matches back per
    * row under the official precedence (exception prevails, else most
    * labels, else the implicit `*`).
    *
    * Scale shape: the explode is bounded by label count (hosts average
    * ~3–4 labels), the dim joins by BROADCAST (the full official list is
    * ~10⁴ rows), and the fold-back is ONE hash aggregation keyed by the
    * caller's row id (host carried through — a verdict re-join onto the
    * input would plan sort-merge). Returns (idCol, hostCol lowercased,
    * domain).
    */
  def registrableDomainDim(df: DataFrame, hostCol: String, idCol: String,
      dim: DataFrame): DataFrame = {
    val labels = split(lower(col(hostCol)), "\\.")
    val n = size(labels)
    // candidate k = 1..n trailing labels, host carried through so the
    // fold-back is ONE hash aggregation — no second corpus-keyed join
    // (a re-join of the verdict onto df planned sort-merge)
    val cands = df.select(col(idCol).as("_id"), lower(col(hostCol)).as("_h"),
        n.as("_n"), explode(sequence(lit(1), n)).as("k"))
      .withColumn("suffix", concat_ws(".",
        slice(split(col("_h"), "\\."), col("_n") - col("k") + 1, col("k"))))
    // LEFT join: a host matching no rule at any k still folds (implicit *)
    val hits = cands.join(
        broadcast(dim.withColumnRenamed("suffix", "suffix_rule")),
        col("suffix") === col("suffix_rule"), "left_outer")
      .select(col("_id"), col("_h"),
        when(col("kind") === "exception", col("k") - 1)
          .when(col("kind") === "wildcard_base", col("k") + 1)
          .when(col("kind") === "exact", col("k")).as("ps"),
        (col("kind") === "exception").as("is_exc"))
    hits.groupBy(col("_id"), col("_h"))
      .agg(max(when(col("is_exc"), col("ps"))).as("exc_ps"),
        max(when(!col("is_exc") || col("is_exc").isNull, col("ps")))
          .as("rule_ps"))
      .withColumn("_ps",
        coalesce(col("exc_ps"), col("rule_ps"), lit(1)).cast("int"))
      .withColumn("domain", {
        val ls = split(col("_h"), "\\.")
        val nn = size(ls)
        when(nn > col("_ps"), concat_ws(".",
          slice(ls, nn - col("_ps"), col("_ps") + 1)))
          .otherwise(col("_h"))
      })
      .select(col("_id").as(idCol), col("_h").as(hostCol), col("domain"))
  }

  lazy val defaultRules: Rules = parse(listText)

  /** The FULL official publicsuffix.org list, bundled as a resource (the
    * Debian `publicsuffix` package's `public_suffix_list.dat`, snapshot
    * 2023-02-09 — public data under the MPL 2.0, ~9.5k rules incl. the
    * private section and both IDN forms after [[parse]]'s punycode
    * twinning). Swapping a newer file is a resource replace, zero code
    * change. */
  lazy val officialListText: String = {
    val in = getClass.getResourceAsStream("/graft/public_suffix_list.dat")
    require(in != null, "bundled public_suffix_list.dat missing")
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  lazy val officialRules: Rules = parse(officialListText)

  private def ruleCount(rules: Rules): Int =
    rules.exact.size + rules.wildcardBase.size + rules.exception.size

  /** Measured compiled-vs-dim selection bound (graft.tools.PslProfile, a
    * one-off tool since removed, in git history at 86affbe; local[32],
    * 1M hosts across 10 suffix families, min-of-5; README
    * "PSL evaluator selection"): there is NO crossover at real list
    * sizes — the compiled CASE chain's per-row cost is flat in rule
    * count (isin literals hash to InSet) and it beats the broadcast-dim
    * join at the FULL official list (9,972 rules: 3.51 s vs 6.83 s; the
    * 336-rule snapshot: 2.42 s), with planning+codegen well under the
    * 64 KB method limit (first-action 3.6 s vs 10.6 s). The limit below
    * exists as the escape valve for pathological rule sets several times
    * any published PSL, where plan size would dominate; the dim path's
    * real role is OPERATIONAL — hot-swapping a refreshed list without
    * re-planning — and is always available explicitly
    * ([[registrableDomainDim]], the q203 shape). */
  val compiledRuleLimit: Int = 50000

  /** Registrable domains for a host frame with AUTO-SELECTED evaluation
    * path: any real rule set — the curated snapshot AND the full
    * official list — compiles into the plan ([[registrableDomain]], a
    * pure codegen'd projection, the q201 shape; measured faster than the
    * join at every real list size, see [[compiledRuleLimit]]); only a
    * pathologically large rule set falls back to the broadcast-dim join
    * ([[registrableDomainDim]], the q203 shape). Output contract is the
    * dim path's: (idCol, hostCol lowercased, domain).
    */
  def registrableDomains(df: DataFrame, hostCol: String, idCol: String,
      rules: Rules = defaultRules): DataFrame =
    if (ruleCount(rules) <= compiledRuleLimit)
      df.select(col(idCol), lower(col(hostCol)).as(hostCol))
        .withColumn("domain", registrableDomain(col(hostCol), rules))
    else
      registrableDomainDim(df, hostCol, idCol,
        rulesDim(df.sparkSession, rules))

  /** Curated PSL snapshot, official wire format. ICANN section first,
    * private section after — trimmed to the families a crawl corpus hits
    * plus every structural case the algorithm must handle (multi-label,
    * wildcard, exception). Swap for the full publicsuffix.org file in
    * deployment.
    */
  val listText: String = """
// ===BEGIN ICANN DOMAINS===
// uk
uk
co.uk
org.uk
me.uk
net.uk
ltd.uk
plc.uk
sch.uk
ac.uk
gov.uk
nhs.uk
police.uk
// au
au
com.au
net.au
org.au
edu.au
gov.au
asn.au
id.au
// jp (incl. prefecture geo names and the city wildcard/exception pairs)
jp
ac.jp
ad.jp
co.jp
ed.jp
go.jp
gr.jp
lg.jp
ne.jp
or.jp
kyoto.jp
ide.kyoto.jp
tokyo.jp
osaka.jp
hokkaido.jp
okinawa.jp
*.kawasaki.jp
*.kitakyushu.jp
*.kobe.jp
*.nagoya.jp
*.sapporo.jp
*.sendai.jp
*.yokohama.jp
!city.kawasaki.jp
!city.kitakyushu.jp
!city.kobe.jp
!city.nagoya.jp
!city.sapporo.jp
!city.sendai.jp
!city.yokohama.jp
// nz
nz
co.nz
net.nz
org.nz
govt.nz
ac.nz
school.nz
geek.nz
gen.nz
kiwi.nz
maori.nz
// br
br
com.br
net.br
org.br
gov.br
edu.br
art.br
blog.br
eco.br
// cn
cn
com.cn
net.cn
org.cn
gov.cn
edu.cn
ac.cn
// in
in
co.in
net.in
org.in
firm.in
gen.in
ind.in
ac.in
edu.in
res.in
gov.in
nic.in
// za
za
co.za
net.za
org.za
gov.za
edu.za
ac.za
web.za
// kr
kr
co.kr
ne.kr
or.kr
re.kr
pe.kr
go.kr
mil.kr
ac.kr
hs.kr
ms.kr
es.kr
sc.kr
kg.kr
seoul.kr
busan.kr
// us (state second-levels + the k12/cc/lib third-levels + pvt.k12 fourth)
us
fed.us
isa.us
nsn.us
dni.us
ak.us
al.us
ca.us
co.us
fl.us
ga.us
il.us
ma.us
mi.us
ny.us
oh.us
pa.us
tx.us
va.us
wa.us
k12.ak.us
k12.al.us
k12.ca.us
k12.fl.us
k12.ga.us
k12.il.us
k12.ma.us
k12.mi.us
k12.ny.us
k12.oh.us
k12.pa.us
k12.tx.us
k12.va.us
k12.wa.us
pvt.k12.ma.us
cc.ak.us
cc.ca.us
cc.ma.us
cc.ny.us
lib.ak.us
lib.ca.us
lib.ma.us
lib.ny.us
// ck — the canonical wildcard TLD with one exception
*.ck
!www.ck
// other wildcard TLDs
*.bd
*.er
*.jm
*.kh
*.mm
*.np
*.pg
// ua
ua
com.ua
net.ua
org.ua
edu.ua
gov.ua
in.ua
// pl
pl
com.pl
net.pl
org.pl
edu.pl
gov.pl
waw.pl
gda.pl
// fr
fr
asso.fr
com.fr
gouv.fr
nom.fr
prd.fr
tm.fr
// mx
mx
com.mx
net.mx
org.mx
gob.mx
edu.mx
// ar
ar
com.ar
net.ar
org.ar
gob.ar
edu.ar
int.ar
mil.ar
tur.ar
// tr
tr
com.tr
net.tr
org.tr
gov.tr
edu.tr
web.tr
av.tr
bbs.tr
// il
il
co.il
net.il
org.il
ac.il
gov.il
muni.il
idf.il
// id
id
co.id
net.id
or.id
web.id
sch.id
ac.id
go.id
mil.id
my.id
biz.id
// th
th
co.th
net.th
or.th
ac.th
go.th
in.th
mi.th
// sg
sg
com.sg
net.sg
org.sg
gov.sg
edu.sg
per.sg
// hk
hk
com.hk
net.hk
org.hk
gov.hk
edu.hk
idv.hk
// tw
tw
com.tw
net.tw
org.tw
gov.tw
edu.tw
idv.tw
game.tw
club.tw
// my
my
com.my
net.my
org.my
gov.my
edu.my
mil.my
name.my
// ph
ph
com.ph
net.ph
org.ph
gov.ph
edu.ph
ngo.ph
mil.ph
i.ph
// vn
vn
com.vn
net.vn
org.vn
edu.vn
gov.vn
int.vn
ac.vn
biz.vn
info.vn
name.vn
pro.vn
health.vn
// it / de / nl / io / dev / app / ac — single-label TLDs used in fixtures
it
de
nl
io
dev
app
ac
biz
com
net
org
edu
gov
mil
int
info
// ===END ICANN DOMAINS===
// ===BEGIN PRIVATE DOMAINS===
github.io
githubusercontent.com
gitlab.io
blogspot.com
appspot.com
herokuapp.com
netlify.app
vercel.app
web.app
firebaseapp.com
pages.dev
workers.dev
wordpress.com
azurewebsites.net
cloudapp.net
cloudfront.net
s3.amazonaws.com
fly.dev
onrender.com
glitch.me
neocities.org
surge.sh
ngrok.io
duckdns.org
dyndns.org
no-ip.org
uk.com
us.com
eu.com
// ===END PRIVATE DOMAINS===
"""
}

"""Public Suffix List (PSL) registrable-domain extraction — the
full-algorithm upgrade over the embedded 4-entry suffix tuple that
``pipeline.urls`` shipped first (the module there already documented
the full list as "data, not code"; this module IS that data path).

The PSL (Mozilla, MPL-2.0, publicsuffix.org) drives every web-corpus
domain rollup: URL dedup groups, domain quality blocklists, and
crawl-frontier politeness all key on the REGISTRABLE domain (public
suffix + one label), and getting ``.com.br``-class hosts wrong merges
unrelated registrants into one group.

Algorithm (publicsuffix.org/list/ matching spec):

- a rule matches a host when the host's rightmost labels equal the
  rule's labels, where a ``*`` rule label matches exactly one host
  label;
- if any EXCEPTION rule (``!`` prefix) matches, it wins and the
  public suffix is the rule minus its leftmost label;
- otherwise the matching rule with the MOST labels wins (a wildcard
  ``*.X`` counts as ``len(X) + 1`` labels);
- no rule matches -> the implicit ``*`` rule (public suffix = the
  last label);
- registrable domain = public suffix + one more label; a host that
  IS a public suffix has none (NULL).

Execution shape (scale-first): the rules are a <10k-row table --
broadcast it. The host side computes its k-label tails (k = 1..max
rule length, a handful of in-plan expressions) and LEFT-BROADCAST-
joins the rules table once per k; the winner is a ``greatest()`` over
the matched flags. No shuffle, no UDF, no explode -- a 100 TB corpus
pays K broadcast hash joins inside one stage. The same logic is
emitted as DuckDB SQL (rules as a VALUES CTE) so suite oracles replay
it bit-exactly: everything is string equality and integer CASE
arithmetic -- no float hazard.

Data: ``load_psl_lines`` reads the authoritative
``public_suffix_list.dat`` from ``spark.xsarsea.psl.path`` when the
deployment provides one; the embedded ``PSL_SNAPSHOT`` below is the
default -- a condensed SUBSET of the real list (ICANN section: the
major ccTLD second-level registries, the .jp prefecture/city rules
with their exceptions, the TLD-level wildcards; private section: the
big multi-tenant hosting suffixes), in the standard .dat line format
so the SAME parser handles both. It is deliberately not claimed to be
the complete ~10k-entry list: deployments that need authoritative
coverage point the conf at the real file, which every
``load_psl_lines``/``with_psl_domain`` caller then uses. (The
``pipeline.urls`` expression chain is the one exception — its
IN-list is frozen from the snapshot at import time, before any
session exists; see its docstring.)

Parity: the reference repo has no web-corpus surface (engine-brief
extension -- dedup family). Suffix data derives from the public
Mozilla PSL (publicsuffix.org).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xsarsea_spark.engine import get_conf

__all__ = ["PSL_SNAPSHOT", "parse_psl_rules", "load_psl_lines",
           "psl_rules", "exact_two_level_suffixes",
           "with_psl_domain", "psl_oracle_ctes", "CONF_PSL_PATH"]

CONF_PSL_PATH = "spark.xsarsea.psl.path"

# Condensed snapshot of the Mozilla Public Suffix List in the
# standard .dat format (comments //, one rule per line, ! = exception,
# * = wildcard label). SUBSET — see module docstring; override with
# spark.xsarsea.psl.path.
PSL_SNAPSHOT = """\
// ===BEGIN ICANN DOMAINS===
// TLD-level wildcards (every 2-label name is a registry): the
// famous .ck exception keeps www.ck registrable
ck
*.ck
!www.ck
bd
*.bd
er
*.er
fk
*.fk
kh
*.kh
mm
*.mm
np
*.np
pg
*.pg
// uk
uk
ac.uk
co.uk
gov.uk
ltd.uk
me.uk
net.uk
nhs.uk
org.uk
plc.uk
police.uk
sch.uk
// jp: organizational + all 47 prefectures + city wildcards with
// their !city exceptions (the PSL's canonical exception family)
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
aichi.jp
akita.jp
aomori.jp
chiba.jp
ehime.jp
fukui.jp
fukuoka.jp
fukushima.jp
gifu.jp
gunma.jp
hiroshima.jp
hokkaido.jp
hyogo.jp
ibaraki.jp
ishikawa.jp
iwate.jp
kagawa.jp
kagoshima.jp
kanagawa.jp
kochi.jp
kumamoto.jp
kyoto.jp
mie.jp
miyagi.jp
miyazaki.jp
nagano.jp
nagasaki.jp
nara.jp
niigata.jp
oita.jp
okayama.jp
okinawa.jp
osaka.jp
saga.jp
saitama.jp
shiga.jp
shimane.jp
shizuoka.jp
tochigi.jp
tokushima.jp
tokyo.jp
tottori.jp
toyama.jp
wakayama.jp
yamagata.jp
yamaguchi.jp
yamanashi.jp
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
// au
au
asn.au
com.au
edu.au
gov.au
id.au
net.au
org.au
// br
br
com.br
net.br
org.br
gov.br
edu.br
mil.br
art.br
adv.br
blog.br
eco.br
emp.br
eng.br
esp.br
far.br
flog.br
ind.br
inf.br
jus.br
leg.br
med.br
mp.br
mus.br
odo.br
psi.br
rec.br
srv.br
tur.br
tv.br
vet.br
vlog.br
wiki.br
// in
in
ac.in
co.in
edu.in
firm.in
gen.in
gov.in
ind.in
mil.in
net.in
nic.in
org.in
res.in
// nz
nz
ac.nz
co.nz
geek.nz
gen.nz
govt.nz
iwi.nz
kiwi.nz
maori.nz
net.nz
org.nz
school.nz
// za
za
ac.za
co.za
edu.za
gov.za
law.za
mil.za
net.za
org.za
school.za
web.za
// kr
kr
ac.kr
co.kr
es.kr
go.kr
hs.kr
kg.kr
mil.kr
ms.kr
ne.kr
or.kr
pe.kr
re.kr
sc.kr
busan.kr
chungbuk.kr
chungnam.kr
daegu.kr
daejeon.kr
gangwon.kr
gwangju.kr
gyeongbuk.kr
gyeonggi.kr
gyeongnam.kr
incheon.kr
jeju.kr
jeonbuk.kr
jeonnam.kr
seoul.kr
ulsan.kr
// mx
mx
com.mx
edu.mx
gob.mx
net.mx
org.mx
// ar
ar
com.ar
edu.ar
gob.ar
gov.ar
int.ar
mil.ar
net.ar
org.ar
tur.ar
// tr
tr
av.tr
bbs.tr
bel.tr
biz.tr
com.tr
dr.tr
edu.tr
gen.tr
gov.tr
info.tr
k12.tr
mil.tr
name.tr
net.tr
org.tr
pol.tr
tel.tr
tv.tr
web.tr
// cn: organizational + province codes
cn
ac.cn
com.cn
edu.cn
gov.cn
mil.cn
net.cn
org.cn
ah.cn
bj.cn
cq.cn
fj.cn
gd.cn
gs.cn
gx.cn
gz.cn
ha.cn
hb.cn
he.cn
hi.cn
hk.cn
hl.cn
hn.cn
jl.cn
js.cn
jx.cn
ln.cn
mo.cn
nm.cn
nx.cn
qh.cn
sc.cn
sd.cn
sh.cn
sn.cn
sx.cn
tj.cn
tw.cn
xj.cn
xz.cn
yn.cn
zj.cn
// tw
tw
club.tw
com.tw
ebiz.tw
edu.tw
game.tw
gov.tw
idv.tw
mil.tw
net.tw
org.tw
// hk
hk
com.hk
edu.hk
gov.hk
idv.hk
net.hk
org.hk
// sg
sg
com.sg
edu.sg
gov.sg
net.sg
org.sg
per.sg
// my
my
com.my
edu.my
gov.my
mil.my
name.my
net.my
org.my
// id
id
ac.id
biz.id
co.id
desa.id
go.id
mil.id
my.id
net.id
or.id
ponpes.id
sch.id
web.id
// th
th
ac.th
co.th
go.th
in.th
mi.th
net.th
or.th
// vn
vn
ac.vn
biz.vn
com.vn
edu.vn
gov.vn
health.vn
info.vn
int.vn
name.vn
net.vn
org.vn
pro.vn
// ph
ph
com.ph
edu.ph
gov.ph
i.ph
mil.ph
net.ph
ngo.ph
org.ph
// il
il
ac.il
co.il
gov.il
idf.il
k12.il
muni.il
net.il
org.il
// ru
ru
com.ru
msk.ru
net.ru
org.ru
pp.ru
spb.ru
// ua
ua
com.ua
edu.ua
gov.ua
in.ua
net.ua
org.ua
kiev.ua
kyiv.ua
lviv.ua
odessa.ua
// pl
pl
biz.pl
com.pl
edu.pl
info.pl
net.pl
org.pl
waw.pl
wroc.pl
// at
at
ac.at
co.at
gv.at
or.at
// es
es
com.es
edu.es
gob.es
nom.es
org.es
// pt
pt
com.pt
edu.pt
gov.pt
int.pt
net.pt
org.pt
publ.pt
// gr
gr
com.gr
edu.gr
gov.gr
net.gr
org.gr
// ro
ro
arts.ro
com.ro
firm.ro
info.ro
nom.ro
nt.ro
org.ro
rec.ro
store.ro
tm.ro
www.ro
// fr
fr
asso.fr
com.fr
gouv.fr
nom.fr
prd.fr
tm.fr
// se
se
com.se
org.se
pp.se
// ie / fi / be
ie
gov.ie
fi
aland.fi
be
ac.be
// eg
eg
com.eg
edu.eg
eun.eg
gov.eg
mil.eg
name.eg
net.eg
org.eg
sci.eg
// sa
sa
com.sa
edu.sa
gov.sa
med.sa
net.sa
org.sa
pub.sa
sch.sa
// ae
ae
ac.ae
co.ae
gov.ae
mil.ae
net.ae
org.ae
sch.ae
// ng
ng
com.ng
edu.ng
gov.ng
i.ng
mil.ng
mobi.ng
name.ng
net.ng
org.ng
sch.ng
// ke
ke
ac.ke
co.ke
go.ke
info.ke
me.ke
mobi.ke
ne.ke
or.ke
sc.ke
// generic TLDs (flat)
com
net
org
io
co
me
info
biz
xyz
app
dev
ai
us
de
nl
it
ch
eu
ca
cc
tv
// ===END ICANN DOMAINS===
// ===BEGIN PRIVATE DOMAINS===
// multi-tenant hosting suffixes: every subdomain is a distinct
// registrant, exactly what web-corpus domain rollups must not merge
blogspot.com
appspot.com
github.io
githubusercontent.com
gitlab.io
herokuapp.com
netlify.app
vercel.app
web.app
firebaseapp.com
azurewebsites.net
cloudfront.net
wordpress.com
tumblr.com
neocities.org
pages.dev
workers.dev
glitch.me
onrender.com
surge.sh
readthedocs.io
fly.dev
deno.dev
bitbucket.io
s3.amazonaws.com
*.compute.amazonaws.com
*.compute-1.amazonaws.com
*.elb.amazonaws.com
// ===END PRIVATE DOMAINS===
"""


def parse_psl_rules(lines) -> list[tuple]:
    """Parse standard ``public_suffix_list.dat`` lines into grouped
    rule rows ``(suffix, labels, is_normal, is_wild, is_exc)``.

    ``suffix`` is the literal label tail the host is string-compared
    against: for a wildcard rule ``*.X`` it is ``X`` (the wildcard
    consumes one extra host label at match time), for an exception
    rule ``!Y`` it is ``Y``. One row per distinct suffix string —
    a suffix that appears as more than one rule kind (legal in the
    PSL) gets its flags OR-ed so the join stays 1:1.
    """
    flags: dict[str, list] = {}
    for raw in lines:
        line = raw.strip()
        if not line or line.startswith("//"):
            continue
        # the spec: everything after the first whitespace is ignored
        line = line.split()[0].lower()
        if line.startswith("!"):
            base, kind = line[1:], 2
        elif line.startswith("*."):
            base, kind = line[2:], 1
        elif line == "*":
            continue    # the implicit default rule is hard-coded
        else:
            base, kind = line, 0
        if not base:
            continue
        f = flags.setdefault(base, [0, 0, 0])
        f[kind] = 1
    return [(s, s.count(".") + 1, f[0], f[1], f[2])
            for s, f in sorted(flags.items())]


def load_psl_lines(spark: SparkSession) -> list[str]:
    """The authoritative ``public_suffix_list.dat`` from
    ``spark.xsarsea.psl.path`` when configured, else the embedded
    snapshot. Driver-local read: the list is a few hundred KB of
    static data headed for a broadcast table, not a distributed
    input."""
    path = get_conf(spark, CONF_PSL_PATH, "")
    if path:
        with open(path, encoding="utf-8") as fh:
            return fh.read().splitlines()
    return PSL_SNAPSHOT.splitlines()


def psl_rules(spark: SparkSession,
              lines=None) -> tuple[DataFrame, list[tuple]]:
    """(broadcastable rules DataFrame, driver-side rule rows). The
    rows come back too so callers can derive plan constants (max rule
    labels, oracle VALUES) without a collect job."""
    rows = parse_psl_rules(lines if lines is not None
                           else load_psl_lines(spark))
    df = spark.createDataFrame(
        rows, "suffix string, labels int, is_n int, is_w int, "
              "is_e int")
    return df, rows


def exact_two_level_suffixes(lines=None) -> tuple:
    """All exact (non-wildcard, non-exception) 2-label suffixes in
    the rule set — the data feed for the ``pipeline.urls`` expression
    chain, replacing its historical 4-entry tuple."""
    rows = parse_psl_rules(lines if lines is not None
                           else PSL_SNAPSHOT.splitlines())
    return tuple(s for s, labels, is_n, _w, _e in rows
                 if labels == 2 and is_n)


def _ps_exprs(rows: list[tuple], n_col: str, flag: str) -> tuple:
    """Shared CASE fragments for the winning public-suffix length:
    (exception candidates, normal/wildcard candidates). ``flag``
    formats the per-k joined flag column name."""
    # descending so the coalesce over exception candidates prefers
    # the LONGEST matching exception rule (spec tie-break; real PSL
    # data never overlaps exceptions, but the order costs nothing)
    ks = sorted({labels for _s, labels, *_ in rows}, reverse=True)
    exc, cand = [], []
    for k in ks:
        has_n = any(r[1] == k and r[2] for r in rows)
        has_w = any(r[1] == k and r[3] for r in rows)
        has_e = any(r[1] == k and r[4] for r in rows)
        nc, wc, ec = (flag.format(kind=kind, k=k)
                      for kind in ("n", "w", "e"))
        if has_e:
            exc.append(f"CASE WHEN {ec} = 1 THEN {k - 1} END")
        if has_n:
            cand.append(f"CASE WHEN {nc} = 1 THEN {k} ELSE 0 END")
        if has_w:
            cand.append(f"CASE WHEN {wc} = 1 AND {n_col} >= {k + 1}"
                        f" THEN {k + 1} ELSE 0 END")
    return exc, cand


def _ps_case(rows: list[tuple], n_col: str, flag: str) -> str:
    """One expression for the public-suffix label count: exception
    rules win outright (PSL spec), else the longest matching rule
    (wildcards count one extra label), else the implicit ``*`` (1)."""
    exc, cand = _ps_exprs(rows, n_col, flag)
    longest = f"greatest(1, {', '.join(cand)})" if cand else "1"
    if not exc:
        return longest
    e = exc[0] if len(exc) == 1 else f"coalesce({', '.join(exc)})"
    return f"coalesce({e}, {longest})"


def with_psl_domain(df: DataFrame, host_col: str, rules_df: DataFrame,
                    rules_rows: list[tuple]) -> DataFrame:
    """Append the PSL registrable domain of ``host_col`` (lowercase,
    port-free hostname) as ``psl_domain`` (NULL when the host IS a
    public suffix or empty).

    K left BROADCAST joins (K = max rule label count, ~5) against the
    per-label-count slices of the rules table, then one integer CASE
    for the winner — no shuffle, no UDF, no explode; the host side
    stays in its incoming partitioning.
    """
    ks = sorted({labels for _s, labels, *_ in rules_rows})
    x = (df
         .withColumn("__psl_ls",
                     F.expr(f"split({host_col}, '\\\\.')"))
         .withColumn("__psl_n", F.expr(
             f"CASE WHEN {host_col} IS NULL OR {host_col} = ''"
             f" THEN 0 ELSE size(__psl_ls) END")))
    for k in ks:
        x = x.withColumn(
            f"__psl_t{k}",
            F.expr(f"CASE WHEN __psl_n >= {k} THEN array_join("
                   f"slice(__psl_ls, __psl_n - {k} + 1, {k}), '.')"
                   f" END"))
        rk = (rules_df.filter(F.col("labels") == k)
              .selectExpr(f"suffix AS __psl_t{k}",
                          f"is_n AS __psl_n{k}",
                          f"is_w AS __psl_w{k}",
                          f"is_e AS __psl_e{k}"))
        x = x.join(F.broadcast(rk), on=f"__psl_t{k}", how="left")
    ps = _ps_case(rules_rows, "__psl_n",
                  "__psl_{kind}{k}")
    x = x.withColumn("__psl_ps", F.expr(ps))
    x = x.withColumn("psl_domain", F.expr(
        "CASE WHEN __psl_n > __psl_ps THEN array_join(slice("
        "__psl_ls, __psl_n - __psl_ps, __psl_ps + 1), '.') END"))
    drop = (["__psl_ls", "__psl_n", "__psl_ps"]
            + [f"__psl_t{k}" for k in ks]
            + [f"__psl_{kind}{k}" for k in ks
               for kind in ("n", "w", "e")])
    return x.drop(*drop)


def psl_oracle_ctes(select0: str, rules_rows: list[tuple]) -> tuple:
    """DuckDB replay of :func:`with_psl_domain`: ``select0`` must
    emit ``host``; returns ``(parts, last_name)`` for the
    caller's WITH clause. The rules ride a VALUES CTE built from the
    same parsed rows, so both engines consult identical data."""
    vals = ", ".join(
        f"('{s}', {labels}, {n}, {w}, {e})"
        for s, labels, n, w, e in rules_rows)
    ks = sorted({labels for _s, labels, *_ in rules_rows})
    parts = [
        f"pslr AS (SELECT * FROM (VALUES {vals})"
        f" AS t(suffix, labels, is_n, is_w, is_e))",
        f"ph0 AS ({select0})",
        "ph1 AS (SELECT *, string_split(host, '.') AS"
        " __psl_ls, CASE WHEN host IS NULL OR host ="
        " '' THEN 0 ELSE len(string_split(host, '.')) END"
        " AS __psl_n FROM ph0)",
    ]
    prev = "ph1"
    for i, k in enumerate(ks):
        nxt = f"ph{i + 2}"
        parts.append(
            f"{nxt} AS (SELECT {prev}.*,"
            f" r.is_n AS __psl_n{k}, r.is_w AS __psl_w{k},"
            f" r.is_e AS __psl_e{k} FROM {prev} LEFT JOIN pslr r"
            f" ON r.labels = {k} AND r.suffix ="
            f" CASE WHEN __psl_n >= {k} THEN array_to_string("
            f"list_slice(__psl_ls, __psl_n - {k} + 1, __psl_n),"
            f" '.') END)")
        prev = nxt
    ps = _ps_case(rules_rows, "__psl_n",
                  "coalesce(__psl_{kind}{k}, 0)")
    parts.append(
        f"phps AS (SELECT *, {ps} AS __psl_ps FROM {prev})")
    parts.append(
        "phd AS (SELECT *, CASE WHEN __psl_n > __psl_ps THEN"
        " array_to_string(list_slice(__psl_ls,"
        " __psl_n - __psl_ps, __psl_n), '.') END AS psl_domain"
        " FROM phps)")
    return parts, "phd"

"""Public Suffix List (PSL) — vendored snapshot, parser, and a
whole-stage-codegen longest-match ``registered_domain`` expression.

Why this exists: eTLD+1 ("registered domain") is the grouping unit for
four operators at once — URL dedup keys (functions/urls.py), blocklist
matching (filter_url_blocklist), link-graph edges and PageRank nodes
(operators/linkgraph.py). A bounded two-level heuristic mis-groups
hosts on unlisted suffixes (``shop.example.com.br`` vs ``*.ac.uk``
variants), which silently taints all four, so the resolver below
implements the real publicsuffix.org algorithm:

  1. Split the host into labels. Collect all rules that match a
     suffix of the host: exact rules, wildcard rules (``*.ck``
     matches one extra label), exception rules (``!www.ck``).
  2. An exception rule wins outright; its public suffix is the rule
     minus its leftmost label.
  3. Otherwise the longest matching rule wins (wildcards count their
     ``*``); with no match the default rule ``*`` applies (the bare
     TLD is the public suffix).
  4. The registered domain is the public suffix plus one more label.
     A host that IS a public suffix (or shorter) passes through
     unchanged — callers group on it either way and '' stays ''.

Spark shape: the compiled rule sets are partitioned BY LABEL COUNT and
emitted as ``Column.isin`` membership tests — Catalyst converts any
in-list past ~10 values to ``InSet`` (an O(1) hash-set probe inside
WholeStageCodegen), so the lookup costs a handful of hash probes per
row regardless of rule count: no join, no UDF, no map-literal linear
scan. Rules never exceed a few labels (3 in the snapshot, 5 in the
full file), so at most ``max_labels`` candidate suffixes are built.

Data: ``PSL_SNAPSHOT`` is a vendored, curated subset of the PSL's
ICANN section (publicsuffix.org — public data, MPL-2.0) in the
standard file format: the dominant crawl TLDs, every second-level
registry convention for the major ccTLDs, the US ``k12/cc/lib.
<state>.us`` three-level family, and ALL the wildcard/exception forms
(``*.ck``/``!www.ck``, the seven Japanese city wildcards with their
``!city.*`` exceptions). Production deployments with the full current
file drop it in via ``load_psl(path)`` (or YAML ``psl:``) — the same
parser reads both, and every expression takes the compiled table as a
parameter with the snapshot as default.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F

from snapflow_spark.session import memo

#: Snapshot provenance — a curated ICANN-section subset, not the full
#: ~9k-rule file; see module docstring. Format is the PSL file format
#: so `parse_psl` treats snapshot and real file identically.
PSL_SNAPSHOT_SOURCE = "publicsuffix.org/list (ICANN section, curated subset)"

_US_STATES = (
    "ak al ar az ca co ct dc de fl ga hi ia id il in ks ky la ma md me mi "
    "mn mo ms mt nc nd ne nh nj nm nv ny oh ok or pa ri sc sd tn tx ut va "
    "vt wa wi wv wy"
).split()

_JP_CITY_WILDCARDS = (
    "kawasaki kitakyushu kobe nagoya sapporo sendai yokohama"
).split()

PSL_SNAPSHOT = (
    """
// ===BEGIN ICANN DOMAINS===
// Generic TLDs
com net org edu gov mil int arpa info biz name pro aero asia cat coop
jobs mobi museum post tel travel xxx
// Popular newer gTLDs
io ai app dev page art blog cloud club design digital email fun global
guru life link live ltd media network news online services shop site
space store studio tech today top website wiki work world xyz zone
agency business capital center city codes company computer consulting
directory education energy engineering enterprises estate events
exchange expert express finance financial fitness foundation fund
gallery games gmbh group health healthcare holdings house institute
international investments land legal marketing money partners
photography pictures plus press productions properties pub rentals
repair school software solutions support systems tax team technology
tips tools tours town toys training university ventures vision watch
win works
// ccTLDs (flat unless listed again below with second-level rules)
ac ad ae af ag al am ao aq ar as at au aw ax az ba bb be bf bg bh bi
bj bm bn bo br bs bt bw by bz ca cc cd cf cg ch ci cl cm cn co cr cu
cv cw cx cz de dj dk dm do dz ec ee eg es et eu fi fk fm fo fr ga gd
ge gf gg gh gi gl gm gn gp gq gr gs gt gu gw gy hk hm hn hr ht hu id
ie il im in iq ir is it je jo jp ke kg ki km kn kp kr kw ky kz la lb
lc li lk lr ls lt lu lv ly ma mc md me mg mh mk ml mn mo mp mq mr ms
mt mu mv mw mx my mz na nc ne nf ng ni nl no nr nu nz om pa pe pf ph
pk pl pm pn pr ps pt pw py qa re ro rs ru rw sa sb sc sd se sg sh si
sk sl sm sn so sr ss st sv sx sy sz tc td tf tg th tj tk tl tm tn to
tr tt tv tw tz ua ug uk us uy uz va vc ve vg vi vn vu wf ws ye yt za
zm zw
// Wildcard TLDs (registration happens under opaque 2nd-level labels)
*.bd *.ck *.er *.jm *.kh *.mm *.np *.pg
!www.ck
// United Kingdom
co.uk org.uk me.uk ltd.uk plc.uk net.uk sch.uk ac.uk gov.uk nhs.uk
police.uk mod.uk
// Australia
com.au net.au org.au edu.au gov.au asn.au id.au
// Japan (registry second-levels + the seven city wildcards)
ac.jp ad.jp co.jp ed.jp go.jp gr.jp lg.jp ne.jp or.jp
// Brazil
com.br net.br org.br gov.br edu.br adv.br arq.br art.br blog.br
eco.br eng.br esp.br etc.br far.br fnd.br ind.br inf.br jus.br leg.br
med.br mil.br mus.br not.br ntr.br odo.br ppg.br psi.br rec.br slg.br
srv.br tur.br tv.br vet.br wiki.br
// New Zealand
co.nz net.nz org.nz govt.nz ac.nz school.nz geek.nz gen.nz kiwi.nz
maori.nz mil.nz health.nz iwi.nz parliament.nz cri.nz
// India
co.in net.in org.in firm.in gen.in ind.in ac.in edu.in res.in gov.in
mil.in nic.in
// China (registry + province codes)
ac.cn com.cn edu.cn gov.cn net.cn org.cn mil.cn bj.cn sh.cn tj.cn
cq.cn he.cn sx.cn nm.cn ln.cn jl.cn hl.cn js.cn zj.cn ah.cn fj.cn
jx.cn sd.cn ha.cn hb.cn hn.cn gd.cn gx.cn hi.cn sc.cn gz.cn yn.cn
xz.cn sn.cn gs.cn qh.cn nx.cn xj.cn tw.cn hk.cn mo.cn
// Taiwan / Hong Kong / Korea
com.tw net.tw org.tw edu.tw gov.tw idv.tw game.tw club.tw mil.tw
com.hk net.hk org.hk edu.hk gov.hk idv.hk
co.kr ne.kr or.kr re.kr pe.kr go.kr mil.kr ac.kr hs.kr ms.kr es.kr
sc.kr kg.kr seoul.kr busan.kr
// South Africa / Israel / Poland / Turkey
co.za net.za org.za gov.za edu.za ac.za web.za
co.il org.il net.il ac.il gov.il muni.il idf.il k12.il
com.pl net.pl org.pl edu.pl gov.pl info.pl biz.pl waw.pl
com.tr net.tr org.tr edu.tr gov.tr mil.tr av.tr bel.tr dr.tr gen.tr
info.tr k12.tr name.tr pol.tr tel.tr tv.tr web.tr
// Latin America
com.mx net.mx org.mx edu.mx gob.mx
com.ar net.ar org.ar edu.ar gob.ar int.ar mil.ar tur.ar
gob.cl gov.cl mil.cl co.cl
com.co net.co org.co edu.co gov.co mil.co nom.co web.co info.co
com.pe net.pe org.pe edu.pe gob.pe mil.pe nom.pe
com.ve net.ve org.ve edu.ve gob.ve mil.ve web.ve co.ve info.ve
com.uy net.uy org.uy edu.uy gub.uy mil.uy
com.ec net.ec org.ec edu.ec gov.ec gob.ec mil.ec fin.ec med.ec pro.ec
com.bo net.bo org.bo edu.bo gob.bo gov.bo mil.bo tv.bo int.bo web.bo
com.py net.py org.py edu.py gov.py mil.py coop.py
ac.cr co.cr ed.cr fi.cr go.cr or.cr sa.cr
com.gt net.gt org.gt edu.gt gob.gt mil.gt ind.gt
com.do net.do org.do edu.do gob.do gov.do mil.do sld.do web.do art.do
// South-East Asia
com.sg net.sg org.sg edu.sg gov.sg per.sg
com.my net.my org.my edu.my gov.my mil.my name.my
co.th ac.th go.th in.th mi.th net.th or.th
co.id net.id or.id ac.id go.id mil.id web.id sch.id my.id biz.id
com.ph net.ph org.ph edu.ph gov.ph mil.ph ngo.ph i.ph
com.vn net.vn org.vn edu.vn gov.vn int.vn ac.vn biz.vn info.vn
name.vn pro.vn health.vn
// Europe (non-flat ccTLDs)
ac.at co.at gv.at or.at
ac.be
asso.fr com.fr gouv.fr nom.fr prd.fr tm.fr
gov.it edu.it
co.hu org.hu info.hu priv.hu sport.hu tm.hu news.hu agrar.hu
com.se org.se pp.se tm.se brand.se parti.se press.se
mil.no stat.no dep.no kommune.no herad.no priv.no
com.gr net.gr org.gr edu.gr gov.gr
com.es nom.es org.es gob.es edu.es
com.pt net.pt org.pt edu.pt gov.pt int.pt publ.pt nome.pt
com.ro org.ro nom.ro arts.ro firm.ro info.ro rec.ro store.ro tm.ro
com.ua net.ua org.ua edu.ua gov.ua in.ua kiev.ua lviv.ua od.ua dp.ua
kh.ua
ac.ru edu.ru gov.ru int.ru mil.ru test.ru
// Middle East / Africa
com.eg net.eg org.eg edu.eg gov.eg mil.eg name.eg sci.eg eun.eg
com.sa net.sa org.sa edu.sa gov.sa med.sa pub.sa sch.sa
co.ae net.ae org.ae sch.ae ac.ae gov.ae mil.ae
com.pk net.pk org.pk edu.pk gov.pk fam.pk biz.pk web.pk gob.pk gok.pk
gon.pk gop.pk gos.pk
com.lk org.lk edu.lk ngo.lk soc.lk web.lk ltd.lk assn.lk grp.lk
hotel.lk gov.lk sch.lk net.lk int.lk ac.lk
ac.ir co.ir gov.ir id.ir net.ir org.ir sch.ir
com.ng net.ng org.ng edu.ng gov.ng i.ng name.ng sch.ng mil.ng mobi.ng
co.ke or.ke ne.ke go.ke ac.ke sc.ke me.ke mobi.ke info.ke
// Canada provinces
ab.ca bc.ca mb.ca nb.ca nf.ca nl.ca ns.ca nt.ca nu.ca on.ca pe.ca
qc.ca sk.ca yk.ca gc.ca
// United States: state codes + the k12/cc/lib three-level family
dni.us fed.us isa.us kids.us nsn.us
"""
)
# The state / k12 / cc / lib and Japanese-city blocks are mechanical —
# generate them instead of hand-typing 200 lines.
PSL_SNAPSHOT += "\n".join(f"{s}.us" for s in _US_STATES) + "\n"
PSL_SNAPSHOT += (
    "\n".join(
        f"{fam}.{s}.us" for s in _US_STATES for fam in ("k12", "cc", "lib")
    )
    + "\n"
)
PSL_SNAPSHOT += (
    "\n".join(f"*.{c}.jp\n!city.{c}.jp" for c in _JP_CITY_WILDCARDS) + "\n"
)
PSL_SNAPSHOT += "// ===END ICANN DOMAINS===\n"


def parse_psl(text: str, icann_only: bool = False) -> list[str]:
    """PSL file format → rule list: ``//`` comments and blank lines
    dropped, one rule per whitespace-run (the official file is
    one-per-line; the vendored snapshot packs several per line),
    lowercased. Works on the real publicsuffix.org file unchanged.

    ``icann_only``: honor the file's section markers and keep only
    rules between ``===BEGIN ICANN DOMAINS===`` and its END — the
    PRIVATE section holds hosting-platform suffixes (useful for URL
    dedup keys, wrong for e.g. per-OWNER domain caps); most
    deployments want one or the other deliberately."""
    rules: list[str] = []
    # a file without section markers keeps everything either way
    has_markers = "BEGIN ICANN DOMAINS" in text.upper()
    in_icann = not (icann_only and has_markers)
    for line in text.splitlines():
        line = line.strip()
        if line.startswith("//"):
            if icann_only:
                marker = line.upper()
                if "BEGIN ICANN DOMAINS" in marker:
                    in_icann = True
                elif "END ICANN DOMAINS" in marker:
                    in_icann = False
            continue
        if not line or not in_icann:
            continue
        for tok in line.split():
            rules.append(tok.lower())
    return rules


@dataclass(frozen=True)
class CompiledPSL:
    """Rule sets partitioned by label count (the codegen unit).

    - ``exact[k]``: k-label exact rules (``co.uk`` → exact[2]).
      1-label exact rules are parsed but never emitted: the PSL
      default rule ``*`` already makes every bare TLD a public
      suffix, so they cannot change the registered domain.
    - ``wildcard[k]``: the k-label BASE of a wildcard rule
      (``*.ck`` → wildcard[1] = {'ck'}); a match makes k+1 labels
      the public suffix.
    - ``exception[k]``: k-label exception rules (``!www.ck`` →
      exception[2]); a match makes k-1 labels the public suffix
      and overrides everything else.
    """

    exact: dict[int, frozenset[str]]
    wildcard: dict[int, frozenset[str]]
    exception: dict[int, frozenset[str]]
    max_labels: int


def compile_psl(rules: list[str]) -> CompiledPSL:
    exact: dict[int, set[str]] = {}
    wildcard: dict[int, set[str]] = {}
    exception: dict[int, set[str]] = {}
    max_labels = 1
    for rule in rules:
        if rule.startswith("!"):
            dom = rule[1:]
            k = dom.count(".") + 1
            exception.setdefault(k, set()).add(dom)
            max_labels = max(max_labels, k)
        elif rule.startswith("*."):
            base = rule[2:]
            k = base.count(".") + 1
            wildcard.setdefault(k, set()).add(base)
            max_labels = max(max_labels, k + 1)
        else:
            k = rule.count(".") + 1
            if k > 1:  # 1-label exacts are the default rule — see class doc
                exact.setdefault(k, set()).add(rule)
            max_labels = max(max_labels, k)
    return CompiledPSL(
        exact={k: frozenset(v) for k, v in exact.items()},
        wildcard={k: frozenset(v) for k, v in wildcard.items()},
        exception={k: frozenset(v) for k, v in exception.items()},
        max_labels=max_labels,
    )


def load_psl(path: str, icann_only: bool = False) -> CompiledPSL:
    """Compile a full publicsuffix.org ``public_suffix_list.dat``
    (or any file in the same format) for use as the ``psl=``
    argument of the expressions below. ``icann_only`` drops the
    PRIVATE-section rules (see parse_psl)."""
    with open(path, encoding="utf-8") as f:
        return compile_psl(parse_psl(f.read(), icann_only=icann_only))


@lru_cache(maxsize=1)
def default_psl() -> CompiledPSL:
    return compile_psl(parse_psl(PSL_SNAPSHOT))


def public_suffix_len_py(labels: list[str], psl: CompiledPSL) -> int:
    """Pure-Python reference of the PSL algorithm (label count of the
    public suffix) — the parity oracle for the codegen expression."""
    n = len(labels)
    p = 1  # default rule '*'
    for k, s in psl.exact.items():
        if n >= k and ".".join(labels[-k:]) in s:
            p = max(p, k)
    for k, s in psl.wildcard.items():
        if n >= k + 1 and ".".join(labels[-k:]) in s:
            p = max(p, k + 1)
    for k, s in psl.exception.items():
        if n >= k and ".".join(labels[-k:]) in s:
            return k - 1  # exception overrides everything
    return p


def registered_domain_py(host: str, psl: CompiledPSL | None = None) -> str:
    """Pure-Python twin of ``registered_domain_expr`` (tests +
    driver-side use). Ports ignored (digits-only suffix, identical to
    the expression); unregistrable hosts (the host IS a public suffix,
    or shorter) pass through unchanged."""
    psl = psl or default_psl()
    h = _PORT_RE.sub("", host.lower())
    labels = h.split(".")
    p = public_suffix_len_py(labels, psl)
    if len(labels) > p:
        return ".".join(labels[-(p + 1):])
    return h


_PORT_RE = re.compile(r":\d+$")


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# Converted literal Seqs are session-state entries per SparkContext
# (round 17): py4j's ListConverter ships ONE command PER ELEMENT when a
# python list crosses the gateway, so even the r17 `_to_seq` form of
# isin_literals still paid ~580 round trips for the 576-rule PSL
# exact-2 set — per CALL, and registered_domain_expr makes six such
# calls. The literal sets are module-level constants, so the converted
# Seq (immutable on the JVM side; `Column.isin` only reads it) is
# memoized per context and per value-tuple (session.memo; each entry
# pins a JVM reference for the context's lifetime, bounded by
# session.MAX_ENTRIES).

#: join/split separator for the one-command string ship: U+001F unit
#: separator, which cannot appear in domain labels or blocklist hosts.
_SEQ_SEP = "\x1f"


def _literal_seq(ctx, vals: list):
    """A scala ``Seq`` of literals built in O(1) py4j round trips.

    String fast path: join the values into ONE payload python-side,
    split it JVM-side (``Pattern.LITERAL``; ``splitAsStream`` only
    drops TRAILING empties and the guard requires every value
    non-empty and separator-free) and wrap the resulting
    ``java.util.List`` as a Seq — ~6 round trips total, element-for-
    element the same ``java.lang.String`` objects the per-element
    converter produces. Anything else falls back to ``_to_seq``."""
    from pyspark.sql.classic.column import _to_seq

    if vals and all(
        isinstance(v, str) and v and _SEQ_SEP not in v for v in vals
    ):
        jvm = ctx._jvm
        pat = jvm.java.util.regex.Pattern.compile(_SEQ_SEP, 16)  # LITERAL
        jlist = pat.splitAsStream(_SEQ_SEP.join(vals)).collect(
            jvm.java.util.stream.Collectors.toList()
        )
        return jvm.PythonUtils.toSeq(jlist)
    return _to_seq(ctx, vals)


def isin_literals(col: Column, values: list) -> Column:
    """``col.isin(*values)`` built in O(1) py4j round trips instead of
    one per literal (round 17, guide §7.3 planning time): PySpark's
    ``Column.isin`` calls ``_create_column_from_literal`` — one
    gateway round trip — PER VALUE, and even a pre-converted python
    list costs one ``ListConverter.add`` round trip per element, which
    made the PSL expression ~750-950 round trips per construction. The
    values are shipped as ONE joined string, split JVM-side
    (``_literal_seq``), and the converted Seq is memoized per
    (SparkContext, value tuple) so repeat constructions pay ~1 round
    trip. Expression-identical: same ``In(col, literals)``, same InSet
    conversion at optimization. Falls back to the public API when the
    classic-column internals are unavailable (e.g. Spark Connect) or
    the values are unhashable."""
    vals = list(values)
    try:
        from pyspark import SparkContext
        from pyspark.sql.classic.column import Column as ClassicColumn

        ctx = SparkContext._active_spark_context
        if ctx is None:
            raise RuntimeError("no active SparkContext")
        # key carries the value TYPES too: python's cross-type equality
        # (True == 1 == 1.0) would otherwise let [1] hit the memoized
        # Seq of [True] and build In() over wrong-typed literals (r17
        # advice). Meant for module-constant literal sets (PSL rules,
        # blocklists), not dynamically generated lists.
        key = ("psl.seq",) + tuple((type(v).__name__, v) for v in vals)
        hash(key)  # unhashable values take the public path below
        seq = memo(key, lambda: _literal_seq(ctx, vals), owner=ctx)
        return ClassicColumn(col._jc.isin(seq))
    except Exception:
        return col.isin(*vals)


def registered_domain_expr(
    host: Column | str, psl: CompiledPSL | None = None
) -> Column:
    """eTLD+1 ('registered domain') of a lowercase host — the unit C4
    blocklists, per-domain caps, link-graph edges and PageRank nodes
    operate on. Implements the full publicsuffix.org longest-match
    algorithm over the compiled rule table (vendored snapshot by
    default, ``load_psl(path)`` for the full file).

    One codegen expression: rule sets become ``InSet`` hash probes
    partitioned by label depth, so cost is O(max_labels) probes per
    row — no join, no UDF. Any ``:port`` is ignored; a host that is
    itself a public suffix (or shorter) passes through unchanged so
    grouping keys stay stable on garbage hosts."""
    psl = psl or default_psl()
    h = F.regexp_replace(_c(host), r":\d+$", "")
    labels = F.split(h, r"\.")
    n = F.size(labels)
    # cand[k] = suffix of the last k labels. concat_ws skips the NULL
    # element_at produces when k > n, so every membership test below
    # is gated on n >= <labels the rule needs>.
    cand: dict[int, Column] = {1: F.element_at(labels, -1)}
    for k in range(2, psl.max_labels + 1):
        cand[k] = F.concat_ws(".", F.element_at(labels, -k), cand[k - 1])
    # public-suffix label count: greatest matching rule, default 1 ('*')
    terms = [F.lit(1)]
    for k, rules in sorted(psl.exact.items()):
        terms.append(
            F.when((n >= k) & isin_literals(cand[k], sorted(rules)), F.lit(k)).otherwise(
                F.lit(0)
            )
        )
    for k, rules in sorted(psl.wildcard.items()):
        terms.append(
            F.when(
                (n >= k + 1) & isin_literals(cand[k], sorted(rules)), F.lit(k + 1)
            ).otherwise(F.lit(0))
        )
    p = F.greatest(*terms) if len(terms) > 1 else terms[0]
    for k, rules in sorted(psl.exception.items()):
        p = F.when((n >= k) & isin_literals(cand[k], sorted(rules)), F.lit(k - 1)).otherwise(
            p
        )
    return F.when(
        n > p, F.concat_ws(".", F.slice(labels, n - p, p + 1))
    ).otherwise(h)


def registered_domain_select_items(
    host_sql: str, alias: str = "rd", psl: CompiledPSL | None = None
) -> str:
    """The SAME algorithm as DuckDB SQL select items — used by the
    correctness oracle so the roster branch replays the full PSL
    longest-match independently (list slicing + IN lists; shares only
    the rule DATA with the Spark path, not the code).

    Returns a comma-joined select-item fragment defining ``__h``,
    ``__lab``, ``__p`` and ``<alias>`` via DuckDB lateral column
    aliases; splice it into a SELECT list over a relation exposing
    ``host_sql``."""
    psl = psl or default_psl()

    def cand_sql(k: int) -> str:
        return " || '.' || ".join(f"__lab[-{i}]" for i in range(k, 0, -1))

    def in_list(rules: frozenset[str]) -> str:
        return ", ".join(f"'{r}'" for r in sorted(rules))

    terms = ["1"]
    for k, rules in sorted(psl.exact.items()):
        terms.append(
            f"CASE WHEN len(__lab) >= {k} AND ({cand_sql(k)}) IN "
            f"({in_list(rules)}) THEN {k} ELSE 0 END"
        )
    for k, rules in sorted(psl.wildcard.items()):
        terms.append(
            f"CASE WHEN len(__lab) >= {k + 1} AND ({cand_sql(k)}) IN "
            f"({in_list(rules)}) THEN {k + 1} ELSE 0 END"
        )
    p = "greatest(" + ", ".join(terms) + ")"
    for k, rules in sorted(psl.exception.items()):
        p = (
            f"CASE WHEN len(__lab) >= {k} AND ({cand_sql(k)}) IN "
            f"({in_list(rules)}) THEN {k - 1} ELSE {p} END"
        )
    return ",\n  ".join(
        [
            f"regexp_replace(lower({host_sql}), ':[0-9]+$', '') AS __h",
            "string_split(__h, '.') AS __lab",
            f"{p} AS __p",
            (
                "CASE WHEN len(__lab) > __p THEN "
                "array_to_string(__lab[len(__lab) - __p:], '.') "
                f"ELSE __h END AS {alias}"
            ),
        ]
    )

"""SQL UDF surface (SURVEY.md §2.10 "SQL UDF (CREATE FUNCTION)").

The reference declares reusable scalar logic as catalog-level SQL UDFs:
``get_highest_priority_value`` (fold over a value/priority array —
``CreateWorksBase.ipynb`` cell 2 lines 53-70), ``names_compatible``
(name-identity predicate — ``UpdateWorkAuthors.ipynb`` cell 3), and the
award-id pair ``award_id_is_weak`` / ``award_norm_key``
(``notebooks/awards/AwardNormKey.sql:11-16,18+``).

Spark 4 supports the same declaration style natively
(``CREATE OR REPLACE TEMPORARY FUNCTION … RETURNS … RETURN <expr>``), so
these are session-scoped SQL functions, usable from any ``spark.sql``
query — the engine's SQL layer gains the reference's vocabulary without
any Python-UDF serialization cost: the bodies inline into Catalyst plans
and stay inside whole-stage codegen.

Scale note: SQL UDFs are macro-expanded at analysis time; at 100 TB they
cost exactly what their body expression costs — no per-row interpreter,
no Arrow transfer, no executor-side Python.
"""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import SparkSession

# A3 as a SQL UDF: first element with a strictly lower priority wins, so
# ties break toward the earliest candidate — same contract as
# functions.arrays.priority_pick (and the reference's fold).
_PRIORITY_BEST = """
CREATE OR REPLACE TEMPORARY FUNCTION priority_best(
  vals ARRAY<STRUCT<value STRING, priority INT>>)
RETURNS STRING
RETURN aggregate(
  vals,
  CAST(STRUCT(CAST(NULL AS STRING) AS value, 2147483647 AS priority)
       AS STRUCT<value STRING, priority INT>),
  (acc, x) -> CASE WHEN x.value IS NOT NULL AND x.value != ''
                    AND x.priority < acc.priority
                   THEN x ELSE acc END
).value
"""

# Name-identity predicate, same behavioral contract as the reference's
# names_compatible: unparsed side (NULL surname) falls back to raw
# equality; same surname needs only initial-or-missing given-name
# agreement; first/last order swap is compatible; surname containment
# (prefix/suffix, min length 4) with initial agreement is compatible.
_NAMES_COMPATIBLE = """
CREATE OR REPLACE TEMPORARY FUNCTION names_compatible(
  a_last STRING, a_first STRING, b_last STRING, b_first STRING,
  a_raw STRING, b_raw STRING)
RETURNS BOOLEAN
RETURN COALESCE(
  CASE
    WHEN a_last IS NULL OR b_last IS NULL
      THEN lower(trim(a_raw)) = lower(trim(b_raw))
    WHEN a_last = b_last
     AND (left(a_first, 1) = left(b_first, 1)
          OR a_first IS NULL OR b_first IS NULL)
      THEN TRUE
    WHEN a_last = b_first AND a_first = b_last
      THEN TRUE
    WHEN (startswith(a_last, b_last) OR endswith(a_last, b_last)
          OR startswith(b_last, a_last) OR endswith(b_last, a_last))
     AND least(length(a_last), length(b_last)) >= 4
     AND (left(a_first, 1) = left(b_first, 1)
          OR a_first IS NULL OR b_first IS NULL)
      THEN TRUE
    ELSE FALSE
  END, FALSE)
"""

# Generic award-id normalization key: uppercase/trim, collapse runs of
# whitespace, drop spaces and hyphens, then canonicalize the trailing
# digit run by stripping leading zeros (the generic layer under the
# reference's per-funder table; the per-funder regexes are data, not
# engine capability).
_AWARD_STRIP = """
CREATE OR REPLACE TEMPORARY FUNCTION award_strip(award STRING)
RETURNS STRING
RETURN regexp_replace(
  regexp_replace(upper(trim(award)), '\\\\s+', ' '), '[ -]', '')
"""

# NOTE: the body is a flat expression on purpose — a scalar subquery /
# CTE inside a SQL UDF body plans as a correlated subquery PER ROW
# (measured 18s vs ~1s on 1.5M rows). Flat bodies macro-expand into the
# enclosing plan and stay in whole-stage codegen.
_AWARD_KEY = """
CREATE OR REPLACE TEMPORARY FUNCTION award_key(award STRING)
RETURNS STRING
RETURN CASE
  WHEN award IS NULL OR trim(award) = '' THEN NULL
  -- ONE total regexp_replace: strip the leading zeros of the trailing
  -- digit run ('0*([0-9]+)\\z' backtracks at least one digit into the
  -- group, so an all-zero run keys as '0'); strings without a digit
  -- tail pass through unchanged.  The previous BIGINT-cast zero strip
  -- had two hypothesis-found totality bugs — a >19-digit run
  -- overflowed the cast, and a U+2028 line separator (which the
  -- ASCII-only \\s+ strip keeps) let the '[0-9]$' guard say yes
  -- while the dot-anchored extract said no, casting '' — and its
  -- macro-expanded repair tripped the codegen method-size limit;
  -- the \\z anchor (absolute end) keeps Java and RE2 agreeing on
  -- strings with trailing line terminators, where '$' diverges.
  -- Behavior on every well-formed id is unchanged.
  ELSE nullif(regexp_replace(award_strip(award), '0*([0-9]+)\\\\z', '$1'), '')
END
"""

# Weakness predicate: a normalized form that is a bare 4-7 digit number
# deposited at a dense numeric registry is never sufficient evidence for
# an automatic merge (the reference's WEAK_BARE rule, generalized: the
# caller supplies the registry-density fact instead of a funder-id list).
_AWARD_IS_WEAK = """
CREATE OR REPLACE TEMPORARY FUNCTION award_is_weak(
  dense_registry BOOLEAN, award STRING)
RETURNS BOOLEAN
RETURN COALESCE(
  dense_registry AND award_key(award) rlike '^[0-9]{4,7}$', FALSE)
"""

# The normalized award string every per-family key rule reads.
_AWARD_NORM0 = """
CREATE OR REPLACE TEMPORARY FUNCTION award_norm0(award STRING)
RETURNS STRING
RETURN regexp_replace(upper(trim(award)), '  +', ' ')
"""

_ALL = (
    _PRIORITY_BEST,
    _NAMES_COMPATIBLE,
    _AWARD_STRIP,
    _AWARD_KEY,
    _AWARD_IS_WEAK,
    _AWARD_NORM0,
)


from weakref import WeakSet

_INSTALLED: WeakSet = WeakSet()


def create_sql_udfs(spark: SparkSession) -> None:
    """Install the engine's SQL-UDF vocabulary into the session.

    Temporary functions live for the session, so re-declaring them on
    every query invocation only burns driver round-trips (~0.5s for the
    8 DDLs) — declare once per live session object. A WeakSet (not an
    id() set) so a recycled address can only cause a harmless re-declare
    (CREATE OR REPLACE), never a silent skip on a fresh session.
    """
    if spark in _INSTALLED:
        return
    for ddl in _ALL:
        spark.sql(ddl)
    _INSTALLED.add(spark)


# --------------------------------------------------------------------------
# Award grammar + verdict layer (the reference's SCORING half)
# --------------------------------------------------------------------------
# AwardNormKey.sql has two halves: the deposited-side normalizer
# (award_family_key above) and the SCORING pipeline (l.227-330): a
# per-funder GRAMMAR recognizer (grammar_pass, l.229-281), a registry
# join counting how many registry awards a normalized key hits
# (n_awards), and the verdict CASE (l.287-326): unscored /
# confirmed_weak / confirmed / confirmed_ambiguous / plausible /
# foreign_scheme / garbage.  The grammar rules below are that table
# re-keyed by family name and re-derived lookaround-free (boolean
# boundary devices '(^|[^0-9])...([^0-9]|$)'; the DOE lookahead strip
# and the GACR backreference are rewritten as CASE/alternation), and
# COMPILED FOR BOTH DIALECTS from this one table — the same
# dual-compilation discipline as typerules.py — so the Spark UDF and
# the DuckDB oracle can never drift apart structurally.
#
# Subjects available to rules (spark_expr, duck_expr):
_GRAM_SUBJECTS: dict[str, tuple[str, str]] = {
    # the normalized award string
    "n": ("award_norm0(award)", "_n"),
    # the award as given (DuckDB callers project only _n, which is blank
    # exactly when the award is)
    "raw": ("award", "_n"),
    # the generic key, award_key (DuckDB callers project _sq, the
    # award_strip form)
    "key": ("award_key(award)", r"nullif(regexp_replace(_sq, '0*([0-9]+)\z', '\1'), '')"),
    # space-squashed
    "nsp": (
        "regexp_replace(award_norm0(award), ' ', '')",
        "regexp_replace(_n, ' ', '', 'g')",
    ),
    # [ -]-squashed
    "nhs": (
        "regexp_replace(award_norm0(award), '[ -]', '')",
        "regexp_replace(_n, '[ -]', '', 'g')",
    ),
    # [-_ ]-squashed
    "nus": (
        "regexp_replace(award_norm0(award), '[-_ ]', '')",
        "regexp_replace(_n, '[-_ ]', '', 'g')",
    ),
    # [+ /-]-squashed (bmbf)
    "nplus": (
        "regexp_replace(award_norm0(award), '[+ /-]', '')",
        "regexp_replace(_n, '[+ /-]', '', 'g')",
    ),
    # [ _/.-]-squashed (UKRI councils)
    "ndot": (
        "regexp_replace(award_norm0(award), '[ _/.-]', '')",
        "regexp_replace(_n, '[ _/.-]', '', 'g')",
    ),
    # MOST/NSC/NSTC prefix stripped then [ -]-squashed
    "tw": (
        "regexp_replace(regexp_replace(award_norm0(award), '^(MOST|NSC|NSTC)[ -]*', ''), '[ -]', '')",
        "regexp_replace(regexp_replace(_n, '^(MOST|NSC|NSTC)[ -]*', ''), '[ -]', '', 'g')",
    ),
    # VR/DNR prefix stripped
    "vrs": (
        "regexp_replace(award_norm0(award), '^(VR|DNR|GRANT)[ .:#-]*', '')",
        "regexp_replace(_n, '^(VR|DNR|GRANT)[ .:#-]*', '')",
    ),
    # NO/GRANT prefix stripped then space-squashed (hunan/zhejiang)
    "nog": (
        "regexp_replace(regexp_replace(award_norm0(award), '^(NO|GRANT)[ .:#-]*', ''), ' ', '')",
        "regexp_replace(regexp_replace(_n, '^(NO|GRANT)[ .:#-]*', ''), ' ', '', 'g')",
    ),
    # GACR label stack stripped then space-squashed
    "gacrs": (
        "regexp_replace(regexp_replace(award_norm0(award), '^((EXPRO|GA ?CR|GACR|CSF|GRANT|NO)[ .:#-]+)+', ''), ' ', '')",
        "regexp_replace(regexp_replace(_n, '^((EXPRO|GA ?CR|GACR|CSF|GRANT|NO)[ .:#-]+)+', ''), ' ', '', 'g')",
    ),
    # MRC-style council prefix stripped then [ _/.-]-squashed
    "mrcs": (
        "regexp_replace(regexp_replace(award_norm0(award), '^(MRC|UKRI|GRANT|NO)[ .:#-]*', ''), '[ _/.-]', '')",
        "regexp_replace(regexp_replace(_n, '^(MRC|UKRI|GRANT|NO)[ .:#-]*', ''), '[ _/.-]', '', 'g')",
    ),
    "bbsrcs": (
        "regexp_replace(regexp_replace(award_norm0(award), '^(BBSRC|UKRI|GRANT|NO)[ .:#-]*', ''), '[ _/.-]', '')",
        "regexp_replace(regexp_replace(_n, '^(BBSRC|UKRI|GRANT|NO)[ .:#-]*', ''), '[ _/.-]', '', 'g')",
    ),
    "nercs": (
        "regexp_replace(regexp_replace(award_norm0(award), '^(NERC|UKRI|GRANT|NO)[ .:#-]*', ''), '[ _/.-]', '')",
        "regexp_replace(regexp_replace(_n, '^(NERC|UKRI|GRANT|NO)[ .:#-]*', ''), '[ _/.-]', '', 'g')",
    ),
    "stfcs": (
        "regexp_replace(regexp_replace(award_norm0(award), '^(STFC|UKRI|GRANT|NO)[ .:#-]*', ''), '[ _/.-]', '')",
        "regexp_replace(regexp_replace(_n, '^(STFC|UKRI|GRANT|NO)[ .:#-]*', ''), '[ _/.-]', '', 'g')",
    ),
    "esrcs": (
        "regexp_replace(regexp_replace(award_norm0(award), '^(ESRC|GRANT|NO)[ .:#-]*', ''), '[ _/.-]', '')",
        "regexp_replace(regexp_replace(_n, '^(ESRC|GRANT|NO)[ .:#-]*', ''), '[ _/.-]', '', 'g')",
    ),
    "ahrcs": (
        "regexp_replace(regexp_replace(award_norm0(award), '^(AHRC|GRANT|NO)[ .:#-]*', ''), '[ _/.-]', '')",
        "regexp_replace(regexp_replace(_n, '^(AHRC|GRANT|NO)[ .:#-]*', ''), '[ _/.-]', '', 'g')",
    ),
    # NIHR prefix stripped then space-squashed
    "nihrs": (
        "regexp_replace(regexp_replace(award_norm0(award), 'NIHR[- ]', ''), ' ', '')",
        "regexp_replace(regexp_replace(_n, 'NIHR[- ]', ''), ' ', '', 'g')",
    ),
    # DOE: [ -]-squash then strip the DE prefix only when an office code
    # follows (the reference's lookahead '^DE(?=[A-Z]{2}[0-9])' as CASE)
    "does": (
        "CASE WHEN regexp_replace(award_norm0(award), '[ -]', '') rlike '^DE[A-Z]{2}[0-9]' "
        "THEN substr(regexp_replace(award_norm0(award), '[ -]', ''), 3) "
        "ELSE regexp_replace(award_norm0(award), '[ -]', '') END",
        "CASE WHEN regexp_matches(regexp_replace(_n, '[ -]', '', 'g'), '^DE[A-Z]{2}[0-9]') "
        "THEN substr(regexp_replace(_n, '[ -]', '', 'g'), 3) "
        "ELSE regexp_replace(_n, '[ -]', '', 'g') END",
    ),
}

# The DoD breast/prostate/ovarian-cancer program award form shared by
# the CDMRP-administered funders.
_CDMRP_PROG = (
    r"^(BC|PC|OC|KC|NF|PR|CA|AL|AR|DM|GW|MB|MS|TS|VR|PT|RA|SC|EP|LC|RH|IS|CO)"
    r"[0-9]{6}(P[0-9])?$"
)
_DOD_CONTRACT = r"^(W81XWH|DAMD[0-9]{2}|HT[0-9]{4})[0-9]{2}[A-Z0-9]{3,9}$"

# family -> rule(rx, OR, AND, NOT) -> boolean SQL text.
_GRAMMAR_RULES = {
    "nsfc": lambda rx, OR, AND, NOT: OR(
        rx("n", r"(^|[^0-9])[0-9]{8}([^0-9]|$)"),
        rx("n", r"(^|[^A-Z0-9])U[0-9]{7}([^0-9]|$)"),
        rx("nsp", r"(^|[^0-9])[0-9]{8}([^0-9]|$)"),
        rx("n", r"^8[0-9]{10}$"),
    ),
    "nih": lambda rx, OR, AND, NOT: OR(
        rx("n", r"[A-Z][0-9]{2} ?-?[A-Z]{2} ?-?[0-9]{5,6}"),
        rx("n", r"^[A-Z]{2} ?-?[0-9]{5,6}"),
    ),
    "nsf": lambda rx, OR, AND, NOT: OR(
        rx("n", r"^([A-Z]{2,5}[ -]?)?[0-9]{7}$"),
        rx("n", r"^[A-Z]{2,5}[ -]?[0-9]{2}[ -][0-9]{5}$"),
    ),
    "kakenhi": lambda rx, OR, AND, NOT: OR(
        rx("n", r"^(KAKENHI|JP|NO[.]?|GRANT)?[ -]*([0-9]{2}[A-Z][0-9]{5}|[0-9]{8})$"),
        rx("nsp", r"^(KAKENHI|JP|NO[.]?|GRANT)?([0-9]{2}[A-Z][0-9]{5}|[0-9]{8})$"),
    ),
    "dfg": lambda rx, OR, AND, NOT: OR(
        rx("n", r"^(SFB|TRR|CRC|EXC|GRK|RTG|FOR|SPP|INST|NFDI|KFO|FZT) ?/?-?[0-9]+"),
        rx("n", r"^(DFG[ -])?[A-Z]{1,4} ?[0-9]{2,4}(/[0-9]+)?(-[0-9]+)?( .*)?$"),
        rx("n", r"(^|[^0-9])[0-9]{9}([^0-9]|$)"),
    ),
    "most_tw": lambda rx, OR, AND, NOT: OR(
        rx("tw", r"^[0-9]{6,7}[A-Z][0-9]{6}(MY[0-9])?E?[0-9]?$"),
        rx("n", r"^(MOST|NSC|NSTC)?[ -]*[0-9]{2,3}[ -]+[0-9]{4}[ -]+[A-Z0-9][ -]+[A-Z0-9]{3,4}[ -]+[0-9]{3}([ -]+MY[0-9])?([ -]+[A-Z0-9]{1,3})?[ -]*$"),
    ),
    "fapesp": lambda rx, OR, AND, NOT: rx(
        "n", r"(^|[^0-9])[0-9]{2,4}/[0-9]{4,5}-[0-9]([^0-9]|$)"
    ),
    "fct": lambda rx, OR, AND, NOT: AND(
        rx("n", r"^[A-Z0-9 ./-]+$"),
        OR(rx("n", r"/"), rx("n", r"^[0-9]{4}[.][0-9]{5}[.]")),
    ),
    "ec": lambda rx, OR, AND, NOT: OR(
        rx("n", "^(GA ?N?°? ?)?[0-9]{6}$"),
        rx("n", r"^101[0-9]{6}$"),
        rx("n", r"-CT-[0-9]{4}-"),
        rx("n", "(FP[567]|H2020|HORIZON|MSCA|ERC|GA) ?N?°? ?-?[0-9]{6}"),
    ),
    "nserc": lambda rx, OR, AND, NOT: OR(
        rx("n", r"^[A-Z]{3,7}[ /-]?[0-9]{4}[ -]?[0-9]{4,6}$"),
        rx("n", r"^[A-Z]{3,7}[ -]?[0-9]{4,6}([ -]{1,3}[0-9]{2,4})?$"),
        rx("n", r"^[0-9]{5,6}([ -]?[0-9]{2,4})?$"),
    ),
    "anr": lambda rx, OR, AND, NOT: rx(
        "nsp", r"(ANR[-_]?)?[0-9]{2}[-_]?[A-Z0-9]{2,6}[-_][0-9]{1,4}"
    ),
    "snsf": lambda rx, OR, AND, NOT: OR(
        rx("n", r"^[0-9A-Z]{0,8}[_-]?[0-9]{4,6}$"), rx("n", r"^[0-9]{12}$")
    ),
    "wellcome": lambda rx, OR, AND, NOT: rx(
        "n", r"^[0-9]{5,6}([/_ ][A-Z][/_ ][0-9]{2}[/_ ][A-Z])?$"
    ),
    "epsrc": lambda rx, OR, AND, NOT: OR(
        rx("nsp", r"^EP/[A-Z0-9]{6,7}(/[0-9])?$"), rx("n", r"^[0-9]{7}$")
    ),
    "nstc_tw": lambda rx, OR, AND, NOT: OR(
        rx("tw", r"^[0-9]{6,7}[A-Z][0-9]{6}(MY[0-9])?E?[0-9]?$"),
        rx("n", r"^(MOST|NSC|NSTC)?[ -]*[0-9]{2,3}[ -]+[0-9]{4}[ -]+[A-Z0-9][ -]+[A-Z0-9]{3,4}[ -]+[0-9]{3}([ -]+MY[0-9])?([ -]+[A-Z0-9]{1,3})?[ -]*$"),
    ),
    "cihr": lambda rx, OR, AND, NOT: rx(
        "n", r"^#? ?(950[- ])?([A-Z]{2,4}[0-9]?[- ]?)?[0-9]{4,6}([-_][0-9]+)?$"
    ),
    "aha": lambda rx, OR, AND, NOT: OR(
        rx("nsp", r"^[0-9]{2}[A-Z]{2,10}[0-9]{4,9}$"), rx("n", r"^[0-9]{6,9}$")
    ),
    "capes": lambda rx, OR, AND, NOT: OR(
        rx("nsp", r"^(8888[0-9]|99999)[.][0-9]{6}/[0-9]{4}-[0-9]{2}$"),
        rx("nsp", r"^(BEX|PDSE|PNPD|PROEX|DS|AUX)-?[0-9]{3,7}([-/.][0-9]{1,4}){0,3}$"),
        rx("n", r"^[0-9]{1,4}/(19|20)[0-9]{2}$"),
    ),
    "ncn": lambda rx, OR, AND, NOT: OR(
        rx("nsp", r"^(UMO-?|DEC-?)?20[0-9]{2}/[0-9]{2}/[A-Z]{1,2}/[A-Z]{2,3}[0-9]{1,2}/[0-9]{5}$"),
        rx("n", r"^N ?N[A-Z]?[0-9]{3} ?[0-9]{6}$"),
    ),
    "doe": lambda rx, OR, AND, NOT: rx(
        "does",
        r"^((SC|EE|FE|AR|NE|NA|EM|OE|IA|PI|BI|CF|ET|SF|HS|DP|EW)[0-9]{7}|(FG|FC|AC|AI|GO|PS|EV|ER|AA)[0-9]{4}[A-Z]{1,2}[0-9]{4,6})$",
    ),
    "shandong": lambda rx, OR, AND, NOT: rx(
        "nhs", r"^(ZR(19|20)[0-9]{2}[A-Z]{1,3}[0-9]{2,4}|[0-9]{4}ZR[A-Z][0-9A-Z]{5})$"
    ),
    "bmbf": lambda rx, OR, AND, NOT: OR(
        AND(rx("nplus", r"^[0-9]{2}[0-9A-Z]{5,10}$"), rx("nplus", r"[A-Z]")),
        rx("nplus", r"^[A-Z][0-9]{6}[A-Z0-9]{0,2}$"),
    ),
    "fwf": lambda rx, OR, AND, NOT: rx(
        "nsp",
        r"^(10[.]55776/|HTTPS?://(DX[.])?DOI[.]ORG/10[.]55776/)?[A-Z]{1,3}[0-9]{3,7}(-[A-Z][0-9]{1,3})?$",
    ),
    "isciii": lambda rx, OR, AND, NOT: rx(
        "nsp", r"^[A-Z]{2,4}[0-9]{2}(CIII)?[/-][0-9]{1,5}$"
    ),
    "aei": lambda rx, OR, AND, NOT: rx(
        "nsp",
        r"^(PID|PGC|RYC|RTI|CEX|TED|SEV|BES|FPU|FJC|IJC|CNS|EUR|EQC|PLEC|PDC)[0-9]{4}-[0-9]{5,6}([A-Z0-9/-]{0,12})?$",
    ),
    "vr": lambda rx, OR, AND, NOT: rx("vrs", r"^(19|20)[0-9]{2}[- ][0-9]{4,5}$"),
    "nasa": lambda rx, OR, AND, NOT: OR(
        rx("nhs", r"^80NSSC[0-9]{2}[KM][0-9]{4}$"),
        rx("nhs", r"^NNX[0-9]{2}[A-Z]{2}[0-9]{2,3}[A-Z]?$"),
        rx("nhs", r"^(NAG|NAGW|NCC|NGT|NAS|NNG|NNH|NNJ)[0-9]{0,2}[A-Z]?[0-9]{3,6}[A-Z]{0,3}$"),
    ),
    "amed": lambda rx, OR, AND, NOT: rx(
        "n", r"^(JP)?[0-9]{2}[A-Z]{2}[0-9]{7}(H[0-9]{4})?$"
    ),
    "dhhs": lambda rx, OR, AND, NOT: OR(
        AND(
            rx("nhs", r"^([A-Z][A-Z0-9]{4}[0-9]{6}|[0-9]{2}[A-Z][A-Z0-9][0-9]{4,5})$"),
            NOT(rx("nhs", r"^[A-Z][0-9]{2}[A-Z]{2}[0-9]{5,6}$")),
        ),
        rx("nhs", r"^(75[A-Z0-9]{9,13}|HHSN[A-Z0-9]{9,15})$"),
    ),
    "nhmrc": lambda rx, OR, AND, NOT: OR(
        rx("nsp", r"^(ID|NHMRC)?[.:#-]*(APP|GNT)?[0-9]{6,7}$"),
        rx("n", r"(^|[^A-Z0-9])(APP|GNT) ?-?[0-9]{6,7}([^0-9]|$)"),
    ),
    # The reference's '([/-])\\d{2}\\2' backreference (same separator on
    # both sides) is RE2-incompatible; split into the two literal forms.
    "gacr": lambda rx, OR, AND, NOT: OR(
        rx("gacrs", r"^(G[A-Z])?[0-9]{2}-[0-9]{5}[A-Z]$"),
        rx("gacrs", r"^(G[A-Z])?P?[0-9]{3}/[0-9]{2}/[A-Z]?[0-9]{3,4}$"),
        rx("gacrs", r"^(G[A-Z])?P?[0-9]{3}-[0-9]{2}-[A-Z]?[0-9]{3,4}$"),
        rx("nsp", r"(^|[^0-9A-Z-])[0-9]{2}-[0-9]{5}[A-Z]([^0-9A-Z]|$)"),
    ),
    "hunan": lambda rx, OR, AND, NOT: rx(
        "nog", r"^((19|20)[0-9]{2}|[0-9]{2})(JJ|JC|TP|RS|SK|NK|JK)[0-9]{4,5}$"
    ),
    "zhejiang": lambda rx, OR, AND, NOT: OR(
        rx("nog", r"^L?[A-Z]{0,4}[0-9]{2}[A-Z][0-9]{6}$"),
        rx("nsp", r"^Y[0-9]{7,9}$"),
        rx("nsp", r"^(19|20)[0-9]{2}C[0-9]{5}$"),
    ),
    "mrc": lambda rx, OR, AND, NOT: OR(
        rx("mrcs", r"^MR[A-Z0-9]{6,7}[0-9]{0,2}$"),
        rx("ndot", r"^MC(UU|PC|EX|U|G|W)[A-Z0-9]{4,12}$"),
        rx("ndot", r"^G[0-9]{6,7}$"),
        rx("n", r"^[0-9]{7}$"),
        rx("n", r"(^|[^A-Z0-9])MR/ ?[A-Z0-9]{6,7}(/[0-9]{1,2})?([^A-Z0-9]|$)"),
    ),
    "bbsrc": lambda rx, OR, AND, NOT: OR(
        rx("bbsrcs", r"^BB[A-Z0-9]{6,7}[0-9]{0,2}$"),
        rx("ndot", r"^BBS[A-Z]{1,3}[A-Z0-9]{7,9}$"),
        rx("n", r"^[0-9]{7}$"),
        rx("n", r"(^|[^A-Z0-9])BBS?/ ?[A-Z0-9/]{6,14}([^A-Z0-9]|$)"),
    ),
    "nerc": lambda rx, OR, AND, NOT: OR(
        rx("nercs", r"^NE[A-Z0-9]{6,7}[0-9]{0,2}$"),
        rx("n", r"^[0-9]{7}$"),
        rx("n", r"(^|[^A-Z0-9])NE/ ?[A-Z0-9]{6,7}(/[0-9]{1,2})?([^A-Z0-9]|$)"),
    ),
    "stfc": lambda rx, OR, AND, NOT: OR(
        rx("stfcs", r"^(ST|PP)[A-Z0-9]{6,7}[0-9]{0,2}$"),
        rx("n", r"^[0-9]{7}$"),
        rx("n", r"(^|[^A-Z0-9])(ST|PP)/ ?[A-Z0-9/]{6,9}(/[0-9]{1,2})?([^A-Z0-9]|$)"),
    ),
    "esrc": lambda rx, OR, AND, NOT: OR(
        rx("esrcs", r"^ES[A-Z0-9]{6,7}[0-9]{0,2}$"),
        rx("ndot", r"^(RES|PTA)[0-9]{9,12}$"),
        rx("ndot", r"^UKRI[0-9]{3,4}$"),
        rx("n", r"^[0-9]{7}$"),
        rx("n", r"(^|[^A-Z0-9])ES/ ?[A-Z0-9]{6,7}(/[0-9]{1,2})?([^A-Z0-9]|$)"),
    ),
    "ahrc": lambda rx, OR, AND, NOT: OR(
        rx("ahrcs", r"^AH[A-Z0-9]{6,7}[0-9]{0,2}$"),
        rx("ndot", r"^UKRI[0-9]{3,4}$"),
        rx("n", r"^[0-9]{7}$"),
        rx("n", r"(^|[^A-Z0-9])AH/ ?[A-Z0-9]{6,7}(/[0-9]{1,2})?([^A-Z0-9]|$)"),
    ),
    # ukri is this repo's combined-council family (award_family_key folds
    # the councils the reference keys per-funder): accept any council path.
    "ukri": lambda rx, OR, AND, NOT: OR(
        rx("n", r"(^|[^A-Z0-9])(EP|BBS|BB|NE|ES|AH|MR|ST|PP)/ ?[A-Z0-9]{6,7}(/[0-9]{1,2})?([^A-Z0-9]|$)"),
        rx("n", r"^[0-9]{7}$"),
    ),
    "innovate_uk": lambda rx, OR, AND, NOT: rx(
        "nsp", r"^(PROJECT|GRANT|APP|NO)?[.:#-]*([0-9]{5,8}|KTP[0-9]{6})$"
    ),
    "nihr": lambda rx, OR, AND, NOT: OR(
        rx("nsp", r"^NIHR[0-9]{4,6}$"),
        AND(
            rx("nihrs", r"^([A-Z]{2,6})?[0-9]{2}/[0-9]{2,4}/[0-9]{2,4}$"),
            NOT(rx("nihrs", r"^[0-9]{2}/(0[1-9]|1[0-2])/[0-9]{2,4}$")),
        ),
        AND(
            rx("nihrs", r"^[A-Z][A-Z0-9]{0,5}(-[A-Z0-9]{1,6}){1,5}$"),
            NOT(rx("nsp", r"^(H2020|HORIZON|ORCID|DOI|ISBN)")),
            rx("n", r"[0-9]{4}"),
        ),
        rx("nsp", r"^[A-Z]{2,6}[0-9]{2,4}-[0-9]{2,4}$"),
    ),
    "dod": lambda rx, OR, AND, NOT: OR(
        AND(
            rx("nus", r"^[A-Z][A-Z0-9]{5}[0-9]{2}[A-Z0-9]{3,11}$"),
            NOT(rx("nus", r"^(GRANT|AWARD|CONTRACT|PROJECT|DODWID|H2020|HORIZON)")),
            NOT(rx("nus", r"^[A-Z]{2}[0-9]{9}$")),
            NOT(rx("nus", r"^[0-9]?[A-Z][0-9]{2}[A-Z]{2}[0-9]{5,6}$")),
        ),
        rx("nus", _CDMRP_PROG),
        rx("nhs", r"^(RC|ER|WP|MR)[0-9]{4}$"),
    ),
    "cdmrp": lambda rx, OR, AND, NOT: OR(
        rx("nhs", r"(^|[^A-Z0-9])(W81XWH|DAMD[0-9]{2}|HT[0-9]{4}|CDMRPL)[0-9]{2}[A-Z0-9]{3,11}([^A-Z0-9]|$)"),
        rx("nus", _CDMRP_PROG),
    ),
    "aro": lambda rx, OR, AND, NOT: rx("nus", r"^W911NF[0-9]{2}[A-Z0-9]{3,9}$"),
    "onr": lambda rx, OR, AND, NOT: rx("nus", r"^N[0-9]{7}[A-Z0-9]{3,9}$"),
    "afosr": lambda rx, OR, AND, NOT: rx(
        "nus", r"^(FA9550|F49620|FA[0-9]{4})[0-9]{2}[A-Z0-9]{3,9}$"
    ),
    "darpa": lambda rx, OR, AND, NOT: rx(
        "nus", r"^(HR0011|D[0-9]{2}A[CP]|N66001|W31P4Q|FA86[0-9]{2}|FA87[0-9]{2})[0-9A-Z]{5,12}$"
    ),
    "dtra": lambda rx, OR, AND, NOT: rx("nus", r"^HDTRA[0-9]{3}[A-Z0-9]{3,9}$"),
    "usamrmc": lambda rx, OR, AND, NOT: OR(
        rx("nus", _DOD_CONTRACT), rx("nus", _CDMRP_PROG)
    ),
    "usamrdc": lambda rx, OR, AND, NOT: OR(
        rx("nus", _DOD_CONTRACT), rx("nus", _CDMRP_PROG)
    ),
    "usamraa": lambda rx, OR, AND, NOT: OR(
        rx("nus", _DOD_CONTRACT), rx("nus", _CDMRP_PROG)
    ),
}

# T-weak surface forms (reference l.291: checked FIRST — a bare number
# is weak evidence regardless of how many registry awards it hits).
_WEAK_SURFACE = {
    "cihr": r"^[0-9]{4,6}$",
    "wellcome": r"^[0-9]{5,6}$",
    "snsf": r"^[0-9]{4,6}$",
    "ec": r"^[0-9]{6}$",
    "nsf": r"^[0-9]{7}$",
    "nserc": r"^[0-9]{4,6}$",
}

# Foreign-scheme keep-list (reference l.300-326): a recognizable grant
# id of a funder OUTSIDE the scored set never scores as garbage.  The
# two lookaround arms are re-derived: the digit-boundary search uses
# the consuming device; the negative-lookahead arm ('starts with 0,
# 8 alnum + 2 digits, contains a letter' exclusion) is decomposed into
# AND/NOT conjuncts.
_FOREIGN_PLAIN = [
    ("n", r"^(MR|BB|EP|NE|ES|AH|ST|EY|G)[0-9]{0,2}/[A-Z0-9]{6,8}/[0-9]{1,2}$"),
    ("n", r"^(PID|PGC|RYC|RTI|CEX|TED|SEV|BES|FPU|FJC|IJC|MAT|FIS|CTQ|SAF|BFU|AGL|ECO|DPI|TIN|FFI|HAR)[0-9]{4}-[0-9A-Z-]{3,}$"),
    ("n", r"^(PRIN|PNRR|FIRB|FISR|PON|POR)[ :-]?[0-9A-Z]{2,}$"),
    ("n", r"^CUP[ :]?[A-Z][0-9][0-9A-Z]{8,13}$"),
    ("n", r"^(RVO|MSM|LO|LM|LQ|GA|GX|GJ)[.:]? ?[0-9]{2,8}([./-][0-9A-Z]+)?$"),
    ("n", r"^(POWR|POIR|POPC|POPW|RPMA)[.][0-9.]{2,12}[/-][0-9A-Z-]{2,}$"),
    ("n", r"^(ANID|FONDECYT|FONDAP|PIA|ACT|ICN)[ /-]?[0-9]{4,8}$"),
    ("n", r"^2[0-9]{3}[A-Z]{2,8}[0-9]{3,8}$"),
    ("n", r"^(INST )?[A-Z]{1,4}[- ]?[0-9]{2,4}/[0-9]{1,3}(-[0-9]{1,2})?( FUGG)?$"),
    ("n", r"^[0-9]{2}(JJ|ZR|DZ|JC|SF|SK|YF)[0-9]{4,7}$"),
    ("n", r"^[A-Z]{2,5}-[0-9]{7}$"),
    ("n", r"^[0-9]{6}[A-Z]?_[0-9]{6}(/[0-9])?$"),
    ("n", r"^EFOP-[0-9][.][0-9][.][0-9]-[0-9]{2}-20[0-9]{2}-[0-9]{5}$"),
    ("n", r"^YXJL-20[0-9]{2}-[0-9]{4}-[0-9]{4}$"),
    ("n", r"^[0-9]{2,3}-EPA-[A-Z0-9-]{5,12}$"),
    ("n", r"^(HTTPS?://(DX[.])?DOI[.]ORG/)?10[.]35802/[0-9]{5,6}$"),
    ("n", r"(^|[^0-9])[0-9]{6}/[0-9]{2,4}-[0-9]([^0-9]|$)"),
    ("n", r"^(ECS|IR|CN|PE|SOE)0{3,6}[0-9]{2,5}$"),
    ("n", r"^(DE[- ]?)?A[CR][0-9]{2}[- ]{0,2}[0-9]{2}[- ]{0,2}[A-Z]{2,3} ?[0-9]{4,6}$"),
    ("n", r"^W[- ]?[0-9]{2,4}([- ]?[0-9]{1,3})?[- ]?ENG[- ]?[0-9]{2}$"),
    ("n", r"^W81XWH[- ]?[0-9]{2}[- ]?[0-9][- ]?[0-9]{4}$"),
    ("n", r"^#? ?[0-9]{2}[A-Z0-9]{6,14}(CNA|NA)[0-9]{6}$"),
    ("n", r"^#? ?HHSN[0-9]{9,12}[A-Z]?$"),
    ("n", r"^[A-Z]{3,8}[0-9]{0,2}[- ]?CT[- ]?[0-9]{2}[- ]?[0-9]{4}$"),
]


def _compile(dialect: int) -> SimpleNamespace:
    """Term renderers for the given dialect column (0=Spark, 1=DuckDB).

    ``rx``/``OR``/``AND``/``NOT`` build the grammar predicates, the rest
    the key rules.  Three terms differ by dialect: ``like`` (DuckDB
    spells rlike ``regexp_matches``), ``rep`` (DuckDB replaces the first
    match unless given 'g'; an anchored pattern matches once, so it goes
    without) and ``cast`` (DuckDB has no STRING type)."""

    def s(subj: str) -> str:
        return _GRAM_SUBJECTS[subj][dialect]

    def like(x: str, pat: str) -> str:
        if dialect == 1:
            return f"regexp_matches({x}, '{pat}')"
        return f"({x}) rlike '{pat}'" if x.startswith("CASE") else f"{x} rlike '{pat}'"

    def rep(x: str, pat: str, to: str = "") -> str:
        g = ", 'g'" if dialect == 1 and not pat.startswith("^") else ""
        return f"regexp_replace({x}, '{pat}', '{to}'{g})"

    def cast(x: str, typ: str) -> str:
        return f"CAST({x} AS {'VARCHAR' if dialect == 1 and typ == 'STRING' else typ})"

    def ext(x: str, pat: str, grp: int = 1) -> str:
        return f"regexp_extract({x}, '{pat}', {grp})"

    def nz(x: str) -> str:
        return f"nullif({x}, '')"

    def case(*whens: tuple[str, str], otherwise: str | None = None) -> str:
        arms = " ".join(f"WHEN {c} THEN {v}" for c, v in whens)
        return f"CASE {arms}" + (f" ELSE {otherwise}" if otherwise else "") + " END"

    return SimpleNamespace(
        s=s, n=s("n"), like=like, rep=rep, cast=cast, ext=ext, nz=nz, case=case,
        rx=lambda subj, pat: like(s(subj), pat),
        OR=lambda *xs: "(" + " OR ".join(xs) + ")",
        AND=lambda *xs: "(" + " AND ".join(xs) + ")",
        NOT=lambda x: f"(NOT {x})",
        # group ``grp`` of the first match of ``pat`` in ``x``; NULL if none
        find=lambda x, pat, grp=1: nz(ext(x, pat, grp)),
        # a digit string with its leading zeros dropped
        num=lambda x: cast(cast(x, "BIGINT"), "STRING"),
        co=lambda *xs: f"coalesce({', '.join(xs)})",
        cat=lambda *xs: f"concat({', '.join(xs)})",
        lpad=lambda x, n: f"lpad({x}, {n}, '0')",
    )


def _ladder(fam_col: str, arms: list, otherwise: str, lead: str = "") -> str:
    """A CASE on ``fam_col``, one WHEN per (families, expression) arm,
    after the optional ``lead`` WHEN (its condition and result)."""
    whens = [f"  WHEN {lead}"] if lead else []
    whens += [
        "  WHEN " + " OR ".join(f"{fam_col} = '{f}'" for f in fams) + f" THEN {e}"
        for fams, e in arms
    ]
    return "CASE\n" + "\n".join(whens) + f"\n  ELSE {otherwise}\nEND"


def compile_grammar_case(dialect: int) -> str:
    """The full grammar_pass CASE for one dialect (keyed by family)."""
    t = _compile(dialect)
    return _ladder(
        "family",
        [((fam,), rule(t.rx, t.OR, t.AND, t.NOT)) for fam, rule in _GRAMMAR_RULES.items()],
        "FALSE",
    )


def compile_foreign_scheme(dialect: int) -> str:
    """The foreign-scheme keep-list as one boolean expression."""
    t = _compile(dialect)
    arms = [t.rx(s, p) for s, p in _FOREIGN_PLAIN]
    # The negative-lookahead arm, decomposed (see comment above).
    arms.append(
        t.AND(
            t.rx("n", r"^[0-9]{2}[A-Z0-9]{2,4}[0-9]{3,4}[A-Z]{0,3}$"),
            t.rx("n", r"^[0-9]{2}[A-Z0-9]*[A-Z]"),
            t.NOT(t.AND(t.rx("n", r"^0[A-Z0-9]{6}[0-9]{2}$"), t.rx("n", r"[A-Z]"))),
        )
    )
    return t.OR(*arms)


def compile_weak_surface(dialect: int) -> str:
    """Boolean: family's weak bare-number surface form."""
    t = _compile(dialect)
    return t.OR(
        *[t.AND(f"family = '{fam}'", t.rx("n", pat)) for fam, pat in _WEAK_SURFACE.items()]
    )


# --------------------------------------------------------------------------
# Per-family award keys: one rule table, rendered for both dialects
# --------------------------------------------------------------------------
# Per-family award normalizers, ported from the reference's generated
# per-funder table (``notebooks/awards/AwardNormKey.sql``, deposited
# side):
#   nih      l.78:  institute letters + serial LPAD 6 ("1 R01 GM 48123-02"
#                   -> "GM048123")
#   nsf      l.79:  the standalone 7-digit award number
#   erc      l.88:  trailing 5-6 digit grant agreement, leading zeros
#                   dropped; 12-digit CORDIS ids keep the last 6
#   ukri     l.110-115: council code / alphanum / version ("EP/N000000/1"),
#                   separators squashed; prefix-labelled fallback
#   wellcome l.37:  5-6 digit core id LPAD 6 (incl. 360G-WELLCOME- forms)
#   dod      l.118: contract-number families (W81XWH/DAMD/N00014/FA/HR0011)
# Round-6 additions (next-largest funders by the same file's key order):
#   kakenhi  l.80:  JP/KAKENHI prefix stripped, yyXnnnnn or 8-digit form
#   anr      l.36:  ANR-yy-CODE-nnnn canonicalized to yy-CODE-nnnn
#   fapesp   l.31:  xx/xxxxx-x process numbers (space-squashed)
#   doe      l.52:  DE- prefix + office code (SC/FG/...) contract forms
#   cdmrp    l.118: W81XWH/DAMD/HT/W911/CDMRPL award numbers
#   aei      l.56:  PID/PGC/RYC/... yyyy-nnnnnn Spanish state grants
#   most_tw  l.29:  MOST/NSC/NSTC prefix stripped, separators squashed
#   capes    l.44:  8888x.nnnnnn/yyyy-nn process numbers
#   ncn      l.45:  yyyy/nn/L/LLn/nnnnn Polish grant paths
#   gacr     l.63:  GA/GP prefixed Czech grant ids (two generations)
# Round-7 additions — the NEXT 20 funders in the reference's works-count
# order (scripts/award_translation_rules.py FUNDERS table) not already
# covered above, deposited-side rules from AwardNormKey.sql l.78-125:
#   nsfc       U+7-digit or 8-digit project number anywhere in the string
#   dfg        9-digit project number
#   fct        space-squashed identity (PTDC/... path ids)
#   nserc      merge onto "year-number" (RGPIN-2019-05634 -> 2019-5634)
#   snsf       trailing 5-6 digit grant no (12-digit forms keep last 6)
#   cihr       programme-prefix stripped, bare number, zeros dropped
#   aha        space-squashed identity
#   shandong   ZR-prefixed provincial ids, two generations
#   bmbf       [+ /-]-squashed identity
#   fwf        single-letter+digits core id, DOI-prefix + suffix tolerated
#   isciii     PInn/nnnnn canonicalized with LPAD-5 serial
#   vr         DNR/VR prefix stripped, yyyy-nnnnn LPAD-5
#   nasa       [ -]-squashed identity (80NSSC...-style contract ids)
#   amed       JP prefix + trailing fiscal H-suffix stripped
#   dhhs       embedded contract/grant grammars, separators squashed
#   nhmrc      APP/GNT-prefixed or bare 6-7 digit application id
#   hunan      yyyyJJnnnnn provincial ids; 2-digit years promoted to 20yy
#   zhejiang   L-series provincial ids; missing L prefix restored
#   innovate_uk  5-8 digit or KTP-prefixed application number
#   nihr       programme nn/nnn/nn paths + PROG-yyyy-nnnnn award forms
# Round-8 additions — the REMAINING funders of the reference's scored
# set (AwardNormKey.sql l.288 lists 51 funder ids; these close the
# deposited-side normalizer to full breadth), same sources:
#   ec         CORDIS 101-prefixed 9-digit or bare 6-digit grant no
#   epsrc      space-squashed identity (EP/... council paths)
#   nstc_tw    MOST/NSC/NSTC prefix stripped (same rule, separate funder)
#   mrc        MR/-path embedded extract, else council-prefix strip
#   bbsrc      BB(S)/-path embedded extract (ids may nest '/'), else strip
#   nerc       NE/-path embedded extract, else strip
#   stfc       ST|PP/-path embedded extract, else strip
#   esrc       ES/-path embedded extract, else strip
#   ahrc       AH/-path embedded extract, else strip
#   aro        W911NF contract grammar, separators squashed
#   onr        N00014-style contract grammar
#   afosr      FA-series/F49620 contract grammar
#   darpa      HR0011/D..A[CP]/N66001/W31P4Q/FA86xx/FA87xx grammars
#   dtra       HDTRA contract grammar
#   usamrmc/usamrdc/usamraa  W81XWH/DAMD/HT award grammar (shared format,
#              three funder identities — kept as separate families so the
#              fid->family map stays 1:1 with the reference's table)
# The reference's boundary lookarounds ((?<!\\d) etc.) are deliberately
# replaced lookaround-free so the Java-regex (Spark) and RE2 (DuckDB
# oracle) compilations agree verbatim: either anchors/prefix-strips
# where the reference itself anchors, or a consuming boundary group —
# '(^|[^0-9])(<id>)([^0-9]|$)' extracting the middle group — where the
# reference extracts an id embedded in longer text (nsfc, dfg, nhmrc,
# dhhs second form, nihr second form).  The consuming emulation scans
# the same leftmost-first order as the lookaround original; the one
# residual divergence is dhhs, where the reference's single alternation
# is split into a COALESCE of its two arms, so a string containing BOTH
# shapes keys on the contract-number arm even when the grant-number arm
# occurs earlier — vanishingly rare in award strings and noted here
# deliberately.  Literal dots use [.] so neither engine's string-escape
# rules are in play.
#
# Each rule is a function of the term set ``t = _compile(dialect)``, so
# the Spark UDF body (``award_family_key``) and the DuckDB oracle
# expression (``compile_family_key(1)``, which reads ``_n``/``_sq``
# columns the caller projects) come from the same definition.


def _council(t, path: str, grp: int, prefix: str) -> str:
    """A UKRI council rule: the council path embedded in the string
    (group ``grp`` of ``path``), squashed; else the string with the
    council label stack ``prefix`` stripped, squashed."""
    return t.co(
        t.rep(t.find(t.n, path, grp), "[ /]"),
        t.nz(t.rep(t.rep(t.n, prefix), "[ _/.-]")),
    )


def _regroup(t, pat: str, join) -> str:
    """When ``pat`` matches the normalized string, its groups rebuilt
    by ``join`` (a function of the group renderer ``g``)."""
    def g(i: int) -> str:
        return t.ext(t.n, pat, i)
    return t.case((f"{t.find(t.n, pat)} IS NOT NULL", join(g)))


def _grant_no(t, x: str) -> str:
    """A 12-digit id keeps its last 6 digits, anything else its trailing
    5-6 digit run; leading zeros dropped (erc, snsf)."""
    return t.num(t.nz(t.case(
        (t.like(x, r"^[0-9]{12}$"), f"substr({x}, 7)"),
        otherwise=t.ext(x, r"([0-9]{5,6})$"),
    )))


def _tw(t) -> str:
    return t.nz(t.s("tw"))


def _squash_spaces(t) -> str:
    return t.nz(t.s("nsp"))


def _dod_award(t) -> str:
    return t.find(
        t.s("nus"), r"^((W81XWH|DAMD[0-9]{2}|HT[0-9]{4})[0-9]{2}[A-Z0-9]{3,9})$"
    )


def _nihr(t) -> str:
    m = t.rep(t.n, r"^NIHR[- ]")
    return t.co(
        t.find(t.rep(m, " "), r"^(?:[A-Z]{2,6})?([0-9]{2}/[0-9]{2,4}/[0-9]{2,4})$"),
        t.find(m, r"(^|[^A-Z0-9-])([A-Z]{1,5}(-[A-Z0-9]{1,4}){0,3}-(19|20)[0-9]{2}-[0-9]{2,6}(-[A-Z0-9]{1,6}){0,2})([^A-Z0-9-]|$)", 2),
        t.nz(t.rep(m, " ")),
    )


def _hunan(t) -> str:
    nog = t.s("nog")
    return t.co(
        t.find(nog, r"^((19|20)[0-9]{2}JJ[0-9]{4,5})$"),
        t.case((t.like(nog, r"^[0-9]{2}JJ[0-9]{4,5}$"), t.cat("'20'", nog))),
    )


def _zhejiang(t) -> str:
    nog = t.s("nog")
    bare = f"{t.like(nog, r'^[A-Z]{1,4}[0-9]{2}[A-Z][0-9]{6}$')} AND NOT {t.like(nog, '^L')}"
    return t.co(
        t.find(nog, r"^(L[A-Z]{0,4}[0-9]{2}[A-Z][0-9]{6})$"),
        t.case((bare, t.cat("'L'", nog))),
    )


# Deposited side, family -> rule.  The order is the battery fixture's
# family order (``AWARD_FAMILIES``).
_FAMILY_KEY_RULES = {
    "nih": lambda t: _regroup(
        t, r"([A-Z]{2}) ?-?([0-9]{5,6})", lambda g: t.cat(g(1), t.lpad(g(2), 6))
    ),
    "nsf": lambda t: t.find(t.s("nhs"), r"([0-9]{7})"),
    "erc": lambda t: _grant_no(t, t.s("nhs")),
    "ukri": lambda t: _council(
        t, r"((EP|BBS|BB|NE|ES|AH|MR|ST)/ ?[A-Z0-9]{6,7}(/[0-9]{1,2})?)", 1,
        r"^(EPSRC|BBSRC|NERC|ESRC|AHRC|MRC|STFC|UKRI|GRANT|NO)[ .:#-]*",
    ),
    "wellcome": lambda t: t.lpad(t.co(
        t.find(t.n, r"360G-WELLCOME-([0-9]{5,6})"), t.find(t.n, r"^([0-9]{5,6})")
    ), 6),
    "dod": lambda t: t.find(
        t.s("nus"),
        r"((W81XWH|DAMD[0-9]{2}|HT[0-9]{4}|W911NF|N00014|FA[0-9]{4}|HR0011)[0-9]{2}[A-Z0-9]{3,9})",
    ),
    "kakenhi": lambda t: t.find(
        t.rep(t.n, r"^(KAKENHI|JP|GRANT|NO[.]?)[ -]*"),
        r"^([0-9]{2}[A-Z][0-9]{5}|[0-9]{8})$",
    ),
    "anr": lambda t: _regroup(
        t, r"^ANR-([0-9]{2})-([A-Z0-9]{2,6})-([0-9]{4})",
        lambda g: t.cat(g(1), "'-'", g(2), "'-'", g(3)),
    ),
    "fapesp": lambda t: t.find(t.s("nsp"), r"^([0-9]{2}/[0-9]{5}-[0-9])$"),
    "doe": lambda t: t.find(
        t.s("nhs"),
        r"^(?:DE)?((SC|EE|FE|AR|NE|NA|EM|OE|IA|PI|BI|CF|ET|SF|HS|DP|EW)[0-9]{7}|(FG|FC|AC|AI|GO|PS|EV|ER|AA)[0-9]{4}[A-Z]{1,2}[0-9]{4,6})$",
    ),
    "cdmrp": lambda t: t.find(
        t.s("nus"),
        r"^((W81XWH|DAMD[0-9]{2}|HT[0-9]{4}|W911[A-Z0-9]{2}|CDMRPL)[0-9A-Z]{5,14})$",
    ),
    "aei": lambda t: t.find(
        t.s("nsp"),
        r"^((PID|PGC|RYC|RTI|CEX|TED|SEV|BES|FPU|FJC|IJC|CNS|EUR|EQC|PLEC|PDC)[0-9]{4}-[0-9]{5,6}[A-Z0-9-]{0,8})$",
    ),
    "most_tw": _tw,
    "capes": lambda t: t.find(
        t.s("nsp"), r"^((8888[0-9]|99999)[.][0-9]{6}/[0-9]{4}-[0-9]{2})$"
    ),
    "ncn": lambda t: t.find(
        t.s("nsp"), r"^(20[0-9]{2}/[0-9]{2}/[A-Z]{1,2}/[A-Z]{2,3}[0-9]{1,2}/[0-9]{5})$"
    ),
    "gacr": lambda t: t.co(
        t.find(t.n, r"^G[A-Z]([0-9]{2}-[0-9]{5}[A-Z])$"),
        t.find(t.n, r"^G[A-Z](P?[0-9]{3}/[0-9]{2}/[A-Z]?[0-9]{3,4})$"),
    ),
    "nsfc": lambda t: t.co(
        t.find(t.n, r"(^|[^A-Z0-9])(U[0-9]{7})([^0-9]|$)", 2),
        t.find(t.n, r"(^|[^0-9])([0-9]{8})([^0-9]|$)", 2),
        t.find(t.s("nsp"), r"(^|[^0-9])([0-9]{8})([^0-9]|$)", 2),
    ),
    "dfg": lambda t: t.find(t.n, r"(^|[^0-9])([0-9]{9})([^0-9]|$)", 2),
    "fct": _squash_spaces,
    "nserc": lambda t: t.case(
        (t.like(t.s("nsp"), r"[A-Z]{3,7}/?-?[0-9]{4}-?[0-9]{4,6}$"),
         t.cat(t.ext(t.s("nsp"), r"([0-9]{4})-?[0-9]{4,6}$"), "'-'",
               t.num(t.ext(t.s("nsp"), r"([0-9]{4,6})$")))),
        (t.like(t.n, r"^[0-9]{5,6}[ -][0-9]{4}$"),
         t.cat(t.ext(t.n, r"([0-9]{4})$"), "'-'",
               t.num(t.ext(t.n, r"^([0-9]{5,6})")))),
    ),
    "snsf": lambda t: _grant_no(t, t.n),
    "cihr": lambda t: t.num(t.find(
        t.rep(t.rep(t.n, r"^#+ ?"), r"^(950[- ]|[A-Z]{2,4}[0-9]?[- ]?)"),
        r"^([0-9]{4,6})([-_][0-9]+)?$",
    )),
    "aha": _squash_spaces,
    "shandong": lambda t: t.find(
        t.s("nhs"), r"(ZR(19|20)[0-9]{2}[A-Z]{1,3}[0-9]{2,4}|[0-9]{4}ZR[A-Z][0-9A-Z]{5})"
    ),
    "bmbf": lambda t: t.nz(t.s("nplus")),
    "fwf": lambda t: t.find(
        t.s("nsp"),
        r"^(?:10[.]55776/|HTTPS?://(?:DX[.])?DOI[.]ORG/10[.]55776/)?([A-Z]{1,3}[0-9]{3,7})(?:-[A-Z][0-9]{1,3})?$",
    ),
    "isciii": lambda t: t.case((
        t.like(t.s("nsp"), r"^[A-Z]{2,4}[0-9]{2}(CIII)?[/-][0-9]{1,5}$"),
        t.cat(t.ext(t.s("nsp"), r"^([A-Z]{2,4}[0-9]{2}(CIII)?)[/-]"), "'/'",
              t.lpad(t.ext(t.s("nsp"), r"[/-]([0-9]{1,5})$"), 5)),
    )),
    "vr": lambda t: t.case((
        t.like(t.s("vrs"), r"^(19|20)[0-9]{2}[- ][0-9]{4,5}$"),
        t.cat(t.ext(t.s("vrs"), r"^((19|20)[0-9]{2})"), "'-'",
              t.lpad(t.ext(t.s("vrs"), r"[- ]([0-9]{4,5})$"), 5)),
    )),
    "nasa": lambda t: t.nz(t.s("nhs")),
    "amed": lambda t: t.find(
        t.n, r"^(?:JP)?([0-9]{2}[A-Z]{2}[0-9]{7})(?:H[0-9]{4})?$"
    ),
    "dhhs": lambda t: t.co(
        t.find(t.s("nhs"), r"([A-Z][A-Z0-9]{4}[0-9]{6})"),
        t.find(t.s("nhs"), r"(^|[^0-9])([0-9]{2}[A-Z][A-Z0-9][0-9]{4,5})([^0-9]|$)", 2),
    ),
    "nhmrc": lambda t: t.co(
        t.find(t.n, r"(^|[^A-Z0-9])(APP|GNT) ?-?([0-9]{6,7})([^0-9]|$)", 3),
        t.find(t.s("nsp"), r"^(?:ID|NHMRC)?[.:#-]*([0-9]{6,7})$"),
    ),
    "hunan": _hunan,
    "zhejiang": _zhejiang,
    "innovate_uk": lambda t: t.find(
        t.s("nsp"), r"^(?:PROJECT|GRANT|APP|NO)?[.:#-]*([0-9]{5,8}|KTP[0-9]{6})$"
    ),
    "nihr": _nihr,
    "ec": lambda t: t.co(
        t.find(t.n, r"(^|[^0-9])(101[0-9]{6})([^0-9]|$)", 2),
        t.find(t.n, r"(^|[^0-9])([0-9]{6})([^0-9]|$)", 2),
    ),
    "epsrc": _squash_spaces,
    "nstc_tw": _tw,
    "mrc": lambda t: _council(
        t, r"(^|[^A-Z0-9])(MR/ ?[A-Z0-9]{6,7}(/[0-9]{1,2})?)([^A-Z0-9]|$)", 2,
        r"^(MRC|UKRI|GRANT|NO)[ .:#-]*",
    ),
    "bbsrc": lambda t: _council(
        t, r"(^|[^A-Z0-9])(BBS?/ ?[A-Z0-9/]{6,14}?(/[0-9]{1,2})?)([^A-Z0-9]|$)", 2,
        r"^(BBSRC|UKRI|GRANT|NO)[ .:#-]*",
    ),
    "nerc": lambda t: _council(
        t, r"(^|[^A-Z0-9])(NE/ ?[A-Z0-9]{6,7}(/[0-9]{1,2})?)([^A-Z0-9]|$)", 2,
        r"^(NERC|UKRI|GRANT|NO)[ .:#-]*",
    ),
    "stfc": lambda t: _council(
        t, r"(^|[^A-Z0-9])((ST|PP)/ ?[A-Z0-9/]{6,9}?(/[0-9]{1,2})?)([^A-Z0-9]|$)", 2,
        r"^(STFC|UKRI|GRANT|NO)[ .:#-]*",
    ),
    "esrc": lambda t: _council(
        t, r"(^|[^A-Z0-9])(ES/ ?[A-Z0-9]{6,7}(/[0-9]{1,2})?)([^A-Z0-9]|$)", 2,
        r"^(ESRC|UKRI[ .:#-]|GRANT|NO)[ .:#-]*",
    ),
    "ahrc": lambda t: _council(
        t, r"(^|[^A-Z0-9])(AH/ ?[A-Z0-9]{6,7}(/[0-9]{1,2})?)([^A-Z0-9]|$)", 2,
        r"^(AHRC|UKRI[ .:#-]|GRANT|NO)[ .:#-]*",
    ),
    "aro": lambda t: t.find(t.s("nus"), r"^(W911NF[0-9]{2}[A-Z0-9]{3,9})$"),
    "onr": lambda t: t.find(t.s("nus"), r"^(N[0-9]{7}[A-Z0-9]{3,9})$"),
    "afosr": lambda t: t.find(
        t.s("nus"), r"^((FA[0-9]{4}|F49620)[0-9]{2}[A-Z0-9]{3,9})$"
    ),
    "darpa": lambda t: t.find(
        t.s("nus"),
        r"^((HR0011|D[0-9]{2}A[CP]|N66001|W31P4Q|FA86[0-9]{2}|FA87[0-9]{2})[0-9A-Z]{5,12})$",
    ),
    "dtra": lambda t: t.find(t.s("nus"), r"^(HDTRA[0-9]{3}[A-Z0-9]{3,9})$"),
    # three funder identities, one award grammar: kept as separate
    # families so the fid->family map stays 1:1 with the reference
    "usamrmc": _dod_award,
    "usamrdc": _dod_award,
    "usamraa": _dod_award,
}

# The funder families of the deposited battery fixtures, in order.
AWARD_FAMILIES = tuple(_FAMILY_KEY_RULES)

# REGISTRY-side keying (AwardNormKey.sql:22-73, the ``side =
# 'registry'`` half).  Registry records are the funder's own clean
# spellings, so these rules are STRICT: anchored full-string grammars
# (no embedded extraction, no decoration stripping beyond the funder's
# own canonical prefixes) — a registry key must refuse forms the
# permissive deposited key above would salvage.  Funders whose registry
# rule equals their deposited rule (most_tw, fct, nasa, the DoD
# contract grammars, ...) point at the deposited entry, and funders
# sharing a registry rule share one WHEN (a tuple key), matching the
# generated file.  dod anchors on the UN-squashed normalized string
# (AwardNormKey.sql:64) — unlike its deposited rule, the registry
# grammar refuses hyphenated contract spellings like
# 'W81XWH-10-1-0238'; only the funder's squashed canonical form keys.
# The two repo-extension families carry the same discipline: erc
# anchors the bare CORDIS grant number (the deposited rule's
# trailing-extract made strict), ukri anchors the combined-council
# path.  Non-matching strings and unconfigured families fall to the
# generic key (AwardNormKey.sql:130), exactly like the deposited side.
_REGISTRY_KEY_RULES = {
    "nih": lambda t: t.find(t.n, r"([A-Z]{2}[0-9]{6})"),
    "nsf": lambda t: t.find(t.n, r"^([0-9]{7})$"),
    "erc": lambda t: t.num(t.find(t.n, r"^([0-9]{5,6})$")),
    "ukri": lambda t: t.rep(t.find(
        t.n, r"^((EP|BBS|BB|NE|ES|AH|MR|ST)/[A-Z0-9]{6,7}(/[0-9]{1,2})?)$"
    ), "[/]"),
    "wellcome": lambda t: t.lpad(t.co(
        t.find(t.n, r"360G-WELLCOME-([0-9]{5,6})"),
        t.find(t.n, r"^([0-9]{5,6})(?:[/_ ][A-Z](?:[/_ ][0-9]{2})?([/_ ][A-Z])?)?$"),
    ), 6),
    "dod": lambda t: t.find(t.n, r"^([A-Z][A-Z0-9]{5}[0-9]{2}[A-Z0-9]{3,11})$"),
    "kakenhi": lambda t: t.find(t.n, r"^([0-9]{2}[A-Z][0-9]{5}|[0-9]{8})$"),
    "anr": _FAMILY_KEY_RULES["anr"],
    "fapesp": lambda t: _regroup(
        t, r"^([0-9]{2})/([0-9]{5})-([0-9])$",
        lambda g: t.cat(g(1), "'/'", g(2), "'-'", g(3)),
    ),
    "doe": _FAMILY_KEY_RULES["doe"],
    "cdmrp": _FAMILY_KEY_RULES["cdmrp"],
    "aei": _FAMILY_KEY_RULES["aei"],
    ("most_tw", "nstc_tw"): _tw,
    "capes": _FAMILY_KEY_RULES["capes"],
    "ncn": _FAMILY_KEY_RULES["ncn"],
    "gacr": _FAMILY_KEY_RULES["gacr"],
    "nsfc": lambda t: t.find(t.n, r"^(U?[0-9]{7,8})$"),
    "dfg": lambda t: t.find(t.n, r"^([0-9]{9})$"),
    "fct": _squash_spaces,
    "nserc": lambda t: t.case(
        (t.like(t.n, r"^[0-9]{1,6}-[0-9]{4}$"),
         t.cat(t.ext(t.n, r"-([0-9]{4})$"), "'-'",
               t.num(t.ext(t.n, r"^([0-9]{1,6})-")))),
        (t.like(t.n, r"^[A-Z]+-[0-9]{4}-[0-9]{4,6}$"),
         t.cat(t.ext(t.n, r"-([0-9]{4})-"), "'-'",
               t.num(t.ext(t.n, r"-([0-9]{4,6})$")))),
    ),
    "snsf": lambda t: t.num(t.find(t.n, r"^([0-9]{1,6})$")),
    "cihr": lambda t: t.num(t.find(t.n, r"^([0-9]{4,6})_[0-9]+$")),
    ("aha", "epsrc", "nihr"): _squash_spaces,
    "shandong": lambda t: t.find(
        t.s("nhs"), r"^(ZR(19|20)[0-9]{2}[A-Z]{1,3}[0-9]{2,4}|[0-9]{4}ZR[A-Z][0-9A-Z]{5})$"
    ),
    "bmbf": _FAMILY_KEY_RULES["bmbf"],
    "fwf": lambda t: t.find(t.s("nsp"), r"^([A-Z]{1,3}[0-9]{3,7})$"),
    "isciii": lambda t: t.case((
        t.like(t.s("nsp"), r"^[A-Z]{2,4}[0-9]{2}(CIII)?/[0-9]{5}$"),
        t.cat(t.ext(t.s("nsp"), r"^([A-Z]{2,4}[0-9]{2}(CIII)?)/"), "'/'",
              t.ext(t.s("nsp"), r"/([0-9]{5})$")),
    )),
    "vr": lambda t: t.find(t.n, r"^((19|20)[0-9]{2}-[0-9]{5})$"),
    "nasa": _FAMILY_KEY_RULES["nasa"],
    "amed": lambda t: t.find(t.n, r"^([0-9]{2}[A-Z]{2}[0-9]{7})H[0-9]{4}$"),
    "dhhs": lambda t: t.find(
        t.s("nhs"), r"^([A-Z][A-Z0-9]{4}[0-9]{6}|[0-9]{2}[A-Z][A-Z0-9][0-9]{4,5})$"
    ),
    "nhmrc": lambda t: t.find(t.n, r"^([0-9]{6,7})$"),
    "hunan": lambda t: t.find(t.n, r"^((19|20)[0-9]{2}JJ[0-9]{4,5})$"),
    "zhejiang": lambda t: t.find(t.n, r"^(L[A-Z]{0,4}[0-9]{2}[A-Z][0-9]{6})$"),
    "innovate_uk": lambda t: t.find(t.s("nsp"), r"^([0-9]{5,8}|KTP[0-9]{6})$"),
    "ec": lambda t: t.find(t.n, r"^([0-9]{6}|[0-9]{9})$"),
    ("mrc", "bbsrc", "nerc", "stfc", "esrc", "ahrc"): lambda t: t.nz(t.s("ndot")),
    "aro": _FAMILY_KEY_RULES["aro"],
    "onr": _FAMILY_KEY_RULES["onr"],
    "afosr": _FAMILY_KEY_RULES["afosr"],
    "darpa": _FAMILY_KEY_RULES["darpa"],
    "dtra": _FAMILY_KEY_RULES["dtra"],
    ("usamrmc", "usamrdc", "usamraa"): _dod_award,
}


def _key_case(rules: dict, dialect: int, fam_col: str) -> str:
    """One key rule table as a CASE on ``fam_col``: blank awards key to
    NULL, unconfigured families and non-matching strings fall to the
    generic key."""
    t = _compile(dialect)
    raw = t.s("raw")
    return _ladder(
        fam_col,
        [((fams,) if isinstance(fams, str) else fams, rule(t))
         for fams, rule in rules.items()],
        t.s("key"),
        lead=f"{raw} IS NULL OR trim({raw}) = '' THEN NULL",
    )


def compile_family_key(dialect: int, fam_col: str = "family") -> str:
    """The deposited-side key (``award_family_key``) for one dialect."""
    return _key_case(_FAMILY_KEY_RULES, dialect, fam_col)


def compile_registry_key(dialect: int, fam_col: str = "family") -> str:
    """The registry-side key (``award_registry_key``) for one dialect."""
    return _key_case(_REGISTRY_KEY_RULES, dialect, fam_col)


_AWARD_FAMILY_KEY = (
    "CREATE OR REPLACE TEMPORARY FUNCTION award_family_key(\n"
    "  family STRING, award STRING)\n"
    "RETURNS STRING\n"
    "RETURN " + compile_family_key(0)
)

_AWARD_REGISTRY_KEY = (
    "CREATE OR REPLACE TEMPORARY FUNCTION award_registry_key(\n"
    "  family STRING, award STRING)\n"
    "RETURNS STRING\n"
    "RETURN " + compile_registry_key(0)
)


_AWARD_GRAMMAR = (
    "CREATE OR REPLACE TEMPORARY FUNCTION award_grammar_pass(\n"
    "  family STRING, award STRING)\n"
    "RETURNS BOOLEAN\n"
    "RETURN " + compile_grammar_case(0)
)

# The verdict tiers (reference l.287-326), family-keyed: the caller
# supplies n_awards (how many registry awards the normalized key hits)
# — the registry itself is data, not engine capability.
_AWARD_VERDICT = (
    "CREATE OR REPLACE TEMPORARY FUNCTION award_verdict(\n"
    "  family STRING, award STRING, n_awards BIGINT)\n"
    "RETURNS STRING\n"
    "RETURN CASE\n"
    "  WHEN award IS NULL OR trim(award) = '' THEN 'garbage'\n"
    + "  WHEN family NOT IN ("
    + ", ".join(f"'{f}'" for f in _GRAMMAR_RULES)
    + ") THEN 'unscored'\n"
    + "  WHEN n_awards >= 1 AND (" + compile_weak_surface(0) + ") THEN 'confirmed_weak'\n"
    "  WHEN n_awards = 1 THEN 'confirmed'\n"
    "  WHEN n_awards > 1 THEN 'confirmed_ambiguous'\n"
    "  WHEN award_grammar_pass(family, award) THEN 'plausible'\n"
    "  WHEN award_family_key(family, award) IS NOT NULL THEN 'plausible'\n"
    "  WHEN " + compile_foreign_scheme(0) + " THEN 'foreign_scheme'\n"
    "  ELSE 'garbage'\n"
    "END"
)


# Registered here (after their definitions) — create_sql_udfs iterates
# _ALL at call time, so extending it below the base tuple is safe.
_ALL = _ALL + (
    _AWARD_FAMILY_KEY, _AWARD_REGISTRY_KEY, _AWARD_GRAMMAR, _AWARD_VERDICT
)


# --------------------------------------------------------------------------
# Garbage SALVAGE layer (the reference's rescue half)
# --------------------------------------------------------------------------
# After the verdict CASE, AwardNormKey.sql re-examines every 'garbage'
# string through three salvage doors (l.372-645): S1 strips decoration
# wrappers off the id core and re-checks it ("decorated own-id",
# l.378-491), S2 splits multi-id concatenations and scores the parts
# (l.492-585), S3 detects ids deposited at the WRONG funder via
# cross-grammars (l.586-640).  The strip regex below is that file's
# l.379-384 'stripped' CTE re-derived lookaround-free and ASCII-only
# (the unicode-dash classes are already folded by award_norm0's
# upstream normalization in this engine), shared verbatim by both
# dialects: a lead label-stack strip applied once, then the trailing
# junk strip applied twice ("12345 (ABC)." needs ')' then '.').
_DECOR_LEAD = (
    "^((GRANT|GRANTS|AWARD|AWARDS|PROJECT|PROJEKT|CONTRACT|AGREEMENT"
    "|APPLICATION|REFERENCE|REF|NUMBER|NUM|NO|N0|ID|CODE|FUNDREF|UNDER"
    "|APP|JSPS|KAKENHI|MEXT|OPUS|SONATA|PRELUDIUM|HARMONIA|MAESTRO"
    "|ETIUDA|GRIEG|NCN|PROBRAL|PROCESSO|PROCESS|FKZ|PHD|POSTDOC"
    "|FELLOWSHIP|STUDENTSHIP|AND)[ .:#_-]+"
    "|GRANT [(]?NO[.]? ?"
    "|[(][A-Z0-9]{1,3}[)] ?"
    "|[A-Z] ?[#] ?"
    "|[#(/:.]+ ?)+"
)
_DECOR_TRAIL = (
    "([ .,;:)/]+"
    "|[ -]*[(][^)]*[)]"
    "|[ -]+((AWARDED )?TO|FOR) [A-Z][A-Z. ]{1,20}"
    "|[ -]+[A-Z][.]( ?[A-Z][.]?){1,3}"
    "|[-]{1,2})$"
)


def compile_decoration_strip(subject: str, dialect: int) -> str:
    """Lead-then-trail-twice decoration strip over ``subject`` (an SQL
    expression yielding the award_norm0-normalized string).  Anchored
    patterns admit exactly one match, so the no-flag replace semantics
    of both engines coincide; alternation order resolves identically
    because Java regex and RE2 both scan leftmost-first."""
    del dialect  # identical text in both dialects by construction
    e = f"regexp_replace({subject}, '{_DECOR_LEAD}', '')"
    e = f"regexp_replace({e}, '{_DECOR_TRAIL}', '')"
    return f"regexp_replace({e}, '{_DECOR_TRAIL}', '')"


# The reference's generic normalized key (reg_g arm, l.366): alnum-
# squashed lowercase when >= 4 chars survive, else the trimmed lowered
# string — the second lookup key of the two-key alias machinery.
def compile_generic_key(subject: str, dialect: int) -> str:
    g = ", 'g'" if dialect == 1 else ""
    squash = f"regexp_replace(lower({subject}), '[^a-z0-9]', ''{g})"
    return (
        f"CASE WHEN {subject} IS NULL OR trim({subject}) = '' THEN NULL "
        f"WHEN length({squash}) >= 4 THEN {squash} "
        f"ELSE lower(trim({subject})) END"
    )


_AWARD_GENERIC_KEY = (
    "CREATE OR REPLACE TEMPORARY FUNCTION award_generic_key(award STRING)\n"
    "RETURNS STRING\nRETURN "
    + compile_generic_key("award", 0)
)

_AWARD_DECOR_STRIP = (
    "CREATE OR REPLACE TEMPORARY FUNCTION award_decoration_strip(award STRING)\n"
    "RETURNS STRING\nRETURN "
    + compile_decoration_strip("award_norm0(award)", 0)
)

# S1 action CASE (reference l.474-491): registry hit (either key) =
# decorated_own_id (weak-flagged when the residue is a weak bare
# surface); no hit but the funder's own grammar fires = decorated_
# plausible; a foreign-scheme or bare 6-8 digit residue survives as
# foreign_scheme_decorated (the round-2/round-3 audit arms); anything
# else stays garbage ('unrescued' here — the reference filters these
# rows out, this engine keeps the bucket so the rollup is total).
_AWARD_RESCUE = (
    "CREATE OR REPLACE TEMPORARY FUNCTION award_rescue_action(\n"
    "  family STRING, award STRING, registry_hit BOOLEAN)\n"
    "RETURNS STRING\n"
    "RETURN CASE\n"
    "  WHEN registry_hit AND (" + compile_weak_surface(0) + ")\n"
    "    THEN 'decorated_own_id_weak'\n"
    "  WHEN registry_hit THEN 'decorated_own_id'\n"
    "  WHEN award_grammar_pass(family, award)\n"
    "   AND NOT (" + compile_weak_surface(0) + ")\n"
    "    THEN 'decorated_plausible'\n"
    "  WHEN (" + compile_foreign_scheme(0) + ")\n"
    "    OR award_norm0(award) rlike '^[0-9]{6,8}$'\n"
    "    THEN 'foreign_scheme_decorated'\n"
    "  ELSE 'unrescued'\n"
    "END"
)

# Standalone weak-surface predicate, needed by the S2 part scorer
# (inside award_rescue_action the same expression is inlined; S2
# aggregates per-part booleans so it needs the predicate as a value).
_AWARD_WEAK_SURFACE = (
    "CREATE OR REPLACE TEMPORARY FUNCTION award_weak_surface(\n"
    "  family STRING, award STRING)\n"
    "RETURNS BOOLEAN\n"
    "RETURN " + compile_weak_surface(0)
)

# S3 wrong-funder CROSS-grammars (reference l.586-640 wf_keyed):
# deliberately STRONGER than the own-grammar table — only funders with
# a distinctive lettered token structure are cross-targets at all
# (NSFC/SNSF-style generic numeric grammars produced tens of thousands
# of coincidental hits against dense numeric registries in the
# reference's first build, per its own comment).  Lookarounds are
# re-derived with consuming boundary groups as everywhere else.
_XGRAM_RULES = {
    "nih": lambda rx, OR, AND, NOT: OR(
        rx("n", r"(^|[^A-Z0-9])[0-9]?([A-Z][0-9]{2}|[A-Z]{2}[0-9])[ -]?[A-Z]{2}[ -]?[0-9]{5,6}([^0-9]|$)"),
        rx("n", r"(^|[^A-Z0-9])(AA|AG|AI|AR|AT|CA|DA|DC|DE|DK|EB|ES|EY|GM|HD|HG|HL|LM|MD|MH|NR|NS|OD|RR|TR|TW)[ -]?[0-9]{6}([^0-9]|$)"),
        rx("n", r"^(AA|AG|AI|AR|AT|DA|DC|DE|DK|EB|ES|EY|GM|HD|HG|HL|LM|MD|MH|NR|NS|OD|RR|TR|TW)[ -]?[0-9]{5}$"),
    ),
    "dhhs": lambda rx, OR, AND, NOT: AND(
        rx("nhs", r"^[A-Z][A-Z0-9]{4}[0-9]{6}$"),
        NOT(rx("nhs", r"^[A-Z][0-9]{2}[A-Z]{2}[0-9]{5,6}$")),
    ),
    "nsf": lambda rx, OR, AND, NOT: rx("n", r"^[A-Z]{2,5}[ -][0-9]{7}$"),
    "kakenhi": lambda rx, OR, AND, NOT: OR(
        rx("n", r"^(KAKENHI|JP)[ -]*([0-9]{2}[A-Z][0-9]{5}|[0-9]{8})$"),
        rx("n", r"^[0-9]{2}[A-Z][0-9]{5}$"),
    ),
    "dfg": lambda rx, OR, AND, NOT: rx(
        "n", r"^(SFB|TRR|CRC|EXC|GRK|RTG|FOR|SPP|INST|NFDI|KFO|FZT) ?/?-?[0-9]+"
    ),
    "most_tw": lambda rx, OR, AND, NOT: rx(
        "tw", r"^[0-9]{6,7}[A-Z][0-9]{6}(MY[0-9])?E?[0-9]?$"
    ),
    "nstc_tw": lambda rx, OR, AND, NOT: rx(
        "tw", r"^[0-9]{6,7}[A-Z][0-9]{6}(MY[0-9])?E?[0-9]?$"
    ),
    "fapesp": lambda rx, OR, AND, NOT: rx(
        "n", r"(^|[^0-9])[0-9]{2,4}/[0-9]{4,5}-[0-9]([^0-9]|$)"
    ),
    "capes": lambda rx, OR, AND, NOT: rx(
        "nsp", r"^(8888[0-9]|99999)[.][0-9]{6}/[0-9]{4}-[0-9]{2}$"
    ),
    "ncn": lambda rx, OR, AND, NOT: rx(
        "nsp", r"(UMO-?|DEC-?)?20[0-9]{2}/[0-9]{2}/[A-Z]{1,2}/[A-Z]{2,3}[0-9]{1,2}/[0-9]{5}"
    ),
    "shandong": lambda rx, OR, AND, NOT: rx(
        "nhs", r"ZR(19|20)[0-9]{2}[A-Z]{1,3}[0-9]{2,4}"
    ),
    "amed": lambda rx, OR, AND, NOT: rx(
        "n", r"^JP[0-9]{2}[A-Z]{2}[0-9]{7}$"
    ),
    "nasa": lambda rx, OR, AND, NOT: OR(
        rx("nhs", r"^80NSSC[0-9]{2}[KM][0-9]{4}$"),
        rx("nhs", r"^NNX[0-9]{2}[A-Z]{2}[0-9]{2,3}[A-Z]$"),
    ),
    "doe": lambda rx, OR, AND, NOT: OR(
        rx("nhs", r"(^|[^A-Z])DE(SC|EE|FE|AR|NE|NA|EM|OE|IA|PI|BI|CF|ET|SF|HS|DP|EW)[0-9]{7}"),
        rx("nhs", r"(^|[^A-Z])DE(FG|FC|AC|AI|GO|PS|EV|ER|AA)[0-9]{4}[A-Z]{1,2}[0-9]{4,6}"),
    ),
    "fct": lambda rx, OR, AND, NOT: AND(
        rx("n", r"^[A-Z0-9 ./-]+$"), rx("n", r"[A-Z]"), rx("n", r"/")
    ),
    "ec": lambda rx, OR, AND, NOT: OR(
        rx("n", r"-CT-[0-9]{4}-"),
        rx("n", r"(FP[567]|H2020|HORIZON|MSCA|ERC|GA) ?N? ?-?[0-9]{6}"),
    ),
    "nserc": lambda rx, OR, AND, NOT: rx(
        "n", r"^(RGPIN|RGPAS|RGPNS|DGECR|CRDPJ|SAPIN)[ -/]?[0-9]{4}[ -]?[0-9]{4,6}$"
    ),
    "anr": lambda rx, OR, AND, NOT: rx(
        "nsp", r"(ANR-?)?[0-9]{2}-[A-Z0-9]{2,6}-[0-9]{4}"
    ),
    "wellcome": lambda rx, OR, AND, NOT: rx(
        "n", r"^[0-9]{5,6}[/_ ][A-Z][/_ ][0-9]{2}[/_ ][A-Z]$"
    ),
    "epsrc": lambda rx, OR, AND, NOT: rx(
        "nsp", r"^EP/[A-Z0-9]{6,7}/[0-9]$"
    ),
    "cihr": lambda rx, OR, AND, NOT: rx(
        "n", r"^#? ?(950|MOP|PJT|FDN|FRN|CIHR)[- ]?[0-9]{4,6}([-_][0-9]+)?$"
    ),
    "aha": lambda rx, OR, AND, NOT: rx(
        "nsp", r"^[0-9]{2}[A-Z]{2,10}[0-9]{4,9}$"
    ),
}


def compile_xgram_case(dialect: int, fam_col: str = "family") -> str:
    """The wrong-funder cross-grammar CASE, dispatched on ``fam_col``
    (the TARGET family column of the candidate x target join)."""
    t = _compile(dialect)
    return _ladder(
        fam_col,
        [((fam,), rule(t.rx, t.OR, t.AND, t.NOT)) for fam, rule in _XGRAM_RULES.items()],
        "FALSE",
    )


_AWARD_XGRAM = (
    "CREATE OR REPLACE TEMPORARY FUNCTION award_xgram_pass(\n"
    "  family STRING, award STRING)\n"
    "RETURNS BOOLEAN\n"
    "RETURN " + compile_xgram_case(0)
)

_ALL = _ALL + (
    _AWARD_GENERIC_KEY,
    _AWARD_DECOR_STRIP,
    _AWARD_RESCUE,
    _AWARD_WEAK_SURFACE,
    _AWARD_XGRAM,
)


# --------------------------------------------------------------------------
# Guard decision layer (the reference's award_id_guard table)
# --------------------------------------------------------------------------
# AwardNormKey.sql l.647-766: the single checkpoint the ingest doors
# consume at mint time.  DESIGN FLIP (the reference's recalibration
# round 1): suppression requires POSITIVE junk classification — "failed
# to verify" alone is NOT junk (64.8% of failed-to-verify suppressions
# audited as real grants in mangled dialects); unclassifiable strings
# default to KEEP.  A string is junk only if the decoration-stripped
# core ALSO classifies as junk (strip-and-retest), a string CONTAINING
# a complete structural id core can never be junk (chassis-anywhere
# keep-list), and funder-scoped keeps carve out real id shapes that are
# unsafe as global chassis.  All arms re-derived lookaround-free and
# ASCII-only (the unicode-dash folds live upstream of award_norm0
# here); the URL negative-lookahead and the '0 + letter' lookahead are
# decomposed into AND/NOT conjuncts.

# Positive-junk arms, each a rule(rx_on_subject) — evaluated over BOTH
# the normalized string and its junk-stripped core.
_JUNK_PROGRAM_LIST = (
    "HORIZON ?2020|HORIZON ?EUROPE|H2020|FP[4-7]|ERASMUS([+]| ?PLUS)?"
    "|MSCA|COST( ACTION)?|PRELUDIUM ?[0-9]{0,2}|OPUS ?[0-9]{0,2}"
    "|SONATA( BIS)? ?[0-9]{0,2}|CAREER|EPSCOR|CREST|INSPIRE|SBIR|STTR"
    "|R&D|COVID(-?19)?|RESEARCH ?4 ?COVID.*|FRANCE ?2030|STI ?2030.*"
    "|EDCTP2?|PT ?2020|COMPETE ?2020?|NORTE ?2020|CENTRO ?2020"
    "|LISBOA ?2020|POCI|FEDER|NSFC|973( PROGRAM)?|863( PROGRAM)?"
    "|111( PROJECT)?|NIH|NSF|DFG|ANR|AHA|ERC|GACR|MOST|JSPS|KAKENHI"
    "|CNPQ|CAPES|FCT|N/?A"
)

_JUNK_PLAIN = [
    f"^({_JUNK_PROGRAM_LIST})$",
    r"^(19|20)[0-9]{2}[-/ ]{1,3}(19|20)[0-9]{2}$",
    r"^(19|20)[0-9]{2}$",
    r"^10[.]13039/[0-9]{6,12}$",
    r"^[^0-9]*10[.]13039/[0-9]{6,12}[^0-9]*$",
    r"^0000-000[0-9]-[0-9]{4}-[0-9X]{4}$",
    r"^(N/?A|NA|NONE|NIL|NOT APPLICABLE|UNKNOWN|TBD|PENDING|NULL|XXX+|[-.,;:/#*+ ]+)$",
    r"^[(]?(FINANCE|FINANCIAL)? ?CODE[ :]*0*1[)]?[.]?$",
    r"^0*1$",
    r"^.{1,3}$",
    r"^( ?[A-Z]{2,}){4,}$",
    r"^[0-9]{1,5}$",
    r"^(JAN|FEB|MAR|APR|MAY|JUN|JUL|AUG|SEP|OCT|NOV|DEC)[A-Z]* (19|20)[0-9]{2}$",
    r"^[0-9]{1,2}[./][0-9]{1,2}[./](19|20)?[0-9]{2}$",
    r"[-/_.]$",
    r"^[-/_.]",
    r"^(ANR|MOST|NSC|NSTC|RGPIN|MOP|PJT|UMO|DEC|FP[4-7]|H2020|GRANT|AWARD|PROJECT|NO|REF)[- _]?[0-9]{0,4}$",
    r"^(19|20)[0-9]{2}[-/](19|20)?[0-9]{1,2}$",
]

# Chassis-anywhere keep-list (reference's non-DOE n=400 audit): a
# string CONTAINING a complete structural id core is never junk,
# whatever the wrapper.  Representative arms covering every family
# group; boundary lookarounds re-derived as consuming groups.
_CHASSIS_ANYWHERE = [
    r"[0-9]{2,3}[- ][0-9]{4}[- ]?[A-Z][- ][A-Z0-9]{3,4}[- ]{1,3}[0-9]{2,3}",
    r"(RGPIN|RGPAS|RGPNS|DGECR|CRDPJ|RDCPJ|SAPIN|PGSD?[0-9]?)[ /=-]{1,3}[0-9]{5,6}([ -][0-9]{2,4})?",
    r"(RGPIN|RGPAS|RGPNS|DGECR|CRDPJ|SAPIN)[- ]?(19|20)[0-9]{2}[- ][0-9]{4,6}",
    r"[0-9]{6}[A-Z]?_[0-9]{6}",
    r"(SFB|TRR?|CRC|EXC|GRK|RTG|FOR|SPP|NFDI|KFO)[ /]?[0-9]{2,4}",
    r"[A-Z]{1,3}[ -]?[0-9]{1,4}/[0-9]{1,3}-[0-9]",
    r"(^|[^0-9])[0-9]{2}[A-Z][0-9]{5}([^0-9]|$)",
    r"[0-9]{5,6}/[A-Z]/[0-9]{2}(/[A-Z])?",
    r"(^|[^0-9A-Z])(GR|WT)[0-9]{6}(MA|MAJ|MF|AIA)?([^0-9]|$)",
    r"(^|[^0-9])(19|20)[0-9]{2}/[0-9]{4,5}-[0-9]([^0-9]|$)",
    r"(UIDB?|UIDP|PTDC|SFRH|CEEC(IND)?|POCI|ALT[0-9]{2}|LA/P)[/ -][A-Z0-9/. -]{3,24}[0-9]",
    r"(8888[0-9]|99999|23038)[.][0-9]{6}/[0-9]{4}",
    r"BEX[ :]{0,2}[0-9]{4,5}/[0-9]{2}",
    r"20[0-9]{2}/[0-9]{2}/[A-Z]{1,2}/[A-Z]{2,3}[0-9]{1,2}/[0-9]{5}",
    r"(MOP|PJT|FDN|FRN|ROG|CPG|IAP|HHP|IRR|OV[0-9])[ #-]{1,3}[0-9]{5,6}",
    r"HHSN[0-9]{9,13}[A-Z]?",
    r"DE-?[A-Z]{2}[0-9]{2}-?[0-9]{2}[A-Z]{2}[0-9]{4,6}",
    r"ANR-?[0-9]{2}-[A-Z0-9]{2,6}-[0-9]{1,4}",
    r"(^|[^A-Z0-9])[0-9]{2}[A-Z]{1,4}[0-9]{3,5}[A-Z]([^A-Z0-9]|$)",
    r"(PI|DTS|AC|ICI|COV)[0-9]{2}(CIII)?[/-][0-9]{4,5}",
    r"EP/[A-Z][0-9]{5,6}[A-Z0-9]?(/[0-9])?",
    r"AHA[ -]?[0-9]{6,9}",
    r"(^|[^0-9])[0-9]{2}(PRE|POST|SDG|GRNT|CDA|EIA|TPA|SFRN|IPA)[0-9]{6,8}",
    r"(^|[^0-9])[0-9]{3}[- ](19|20)[0-9]{2}[- ][0-9]{4,5}([^0-9]|$)",
    r"(^|[^0-9/])(19|20)[0-9]{2}-[0-9]{5}([^0-9]|$)",
    r"(^|[^A-Z0-9])(ECS|PE|CN|IR)_?[0-9]{8}([^0-9]|$)",
    r"20[0-9]{2}ZD[0-9]{7}",
    r"CUP[ :]{0,2}[A-Z][0-9A-Z]{10,14}",
    r"FA[0-9]{4}-[0-9]{2}-[0-9]-[0-9]{4}",
    r"JP ?[0-9]{2}[A-Z]{2}[0-9]{7}",
    r"(^|[^A-Z0-9/])PI[0-9]{6}([^0-9]|$)",
    r"80NSSC[0-9]{2}[A-Z][0-9]{4}",
    r"[A-Z]{2,6}_[0-9]{1,2}-[0-9][- ]20[0-9]{2}-[0-9]{4}",
    r"N N[0-9]{3} [0-9]{4} [0-9]{2}($|[^0-9])",
    r"10[.]55776/[A-Z]{0,4}[0-9]{1,6}",
    r"20[0-9]{2}[MT][0-9]{6}($|[^0-9])",
]

# The junk-strip for strip-and-retest (reference's _ns projection —
# lighter than the S1 decoration strip, by design: trailing grantee,
# then lead/trail punctuation runs).
def compile_junk_strip(subject: str, dialect: int) -> str:
    del dialect
    e = f"regexp_replace({subject}, ' TO [A-Z][A-Z. ]{{0,24}}$', '')"
    e = f"regexp_replace({e}, '^[ _./,;:()-]+', '')"
    return f"regexp_replace({e}, '[ _./,;:()-]+$', '')"


def compile_junk_tier(expr: str, dialect: int) -> str:
    """The positive-junk OR over one subject expression, with the
    URL and '0-prefixed alnum' lookahead arms decomposed."""
    like = _compile(dialect).like
    arms = [like(expr, p) for p in _JUNK_PLAIN]
    arms.append(
        "(" + like(expr, r"^(HTTPS?://|WWW[.])")
        + " AND NOT " + like(expr, r"10[.](58275|54499|35802|55776)")
        + ")"
    )
    arms.append(
        "(" + like(expr, r"^0[A-Z0-9]{6}[0-9]{2}$")
        + " AND " + like(expr, r"[A-Z]") + ")"
    )
    return "(" + "\n  OR ".join(arms) + ")"


def compile_chassis_keep(expr: str, dialect: int) -> str:
    """The chassis-anywhere keep-list OR over one subject expression."""
    like = _compile(dialect).like
    return "(" + "\n  OR ".join(
        like(expr, p) for p in _CHASSIS_ANYWHERE
    ) + ")"


def compile_scoped_keeps(expr: str, dialect: int) -> str:
    """Funder-scoped keeps: real id shapes AT this funder, unsafe as
    global chassis (fwf letter+short-number minus H2020, nsfc W/T
    deposit ids and 8+10-digit project ids, nserc bare-4 minus years,
    fwf 1xxxx-3xxxx core ids)."""
    like = _compile(dialect).like
    fwf1 = "(" + like(expr, r"^[A-Z]{1,3} ?[0-9]{1,5}[.]?$") \
        + " AND NOT " + like(expr, r"^H ?2020[.]?$") + ")"
    nsfc1 = like(expr, r"(^|[^0-9A-Z])[WT][0-9]{7,10}([^0-9]|$)")
    nsfc2 = like(expr, r"(^|[^0-9])8[0-9]{10}([^0-9]|$)")
    nserc1 = "(" + like(expr, r"^[0-9]{4}[.]?$") \
        + " AND NOT " + like(expr, r"^(19|20)[0-9]{2}[.]?$") + ")"
    fwf2 = like(expr, r"^[1-3][0-9]{4}[.]?$")
    return (
        f"((family = 'fwf' AND ({fwf1} OR {fwf2}))"
        f" OR (family = 'nsfc' AND ({nsfc1} OR {nsfc2}))"
        f" OR (family = 'nserc' AND {nserc1}))"
    )


def compile_is_junk(n_expr: str, ns_expr: str, dialect: int) -> str:
    """The full positive-junk classification: junk(_n) AND
    (junk(_ns) OR _ns = '' OR DOE bare-6(_ns)) OR DOE bare-6(_n),
    minus the DOE deferral, the chassis-anywhere keeps, and the
    funder-scoped keeps.  DOE never suppresses while the reference's
    taxonomy deferral stands — the bare-6 arms are kept for structural
    parity and the deferral excludes the family afterwards, exactly as
    the reference orders its clauses."""
    like = _compile(dialect).like
    doe6_n = f"(family = 'doe' AND {like(n_expr, '^[0-9]{6}$')})"
    doe6_ns = f"(family = 'doe' AND {like(ns_expr, '^[0-9]{6}$')})"
    return (
        f"((({compile_junk_tier(n_expr, dialect)}\n"
        f"  AND ({compile_junk_tier(ns_expr, dialect)} OR {ns_expr} = '' OR {doe6_ns}))\n"
        f"  OR {doe6_n})\n"
        f" AND family NOT IN ('doe')\n"
        f" AND NOT {compile_chassis_keep(n_expr, dialect)}\n"
        f" AND NOT {compile_scoped_keeps(n_expr, dialect)})"
    )


_AWARD_JUNK_STRIP = (
    "CREATE OR REPLACE TEMPORARY FUNCTION award_junk_strip(award STRING)\n"
    "RETURNS STRING\nRETURN "
    + compile_junk_strip("award_norm0(award)", 0)
)

_AWARD_IS_JUNK = (
    "CREATE OR REPLACE TEMPORARY FUNCTION award_is_junk(\n"
    "  family STRING, award STRING)\n"
    "RETURNS BOOLEAN\n"
    "RETURN "
    + compile_is_junk("award_norm0(award)", "award_junk_strip(award)", 0)
)

# Guard reason (decision = 'suppress' iff reason = 'junk_positive';
# everything else mints).
_AWARD_GUARD_REASON = (
    "CREATE OR REPLACE TEMPORARY FUNCTION award_guard_reason(\n"
    "  family STRING, award STRING, verdict STRING, actions STRING)\n"
    "RETURNS STRING\n"
    "RETURN CASE\n"
    "  WHEN verdict <> 'garbage' THEN verdict\n"
    "  WHEN actions IS NOT NULL THEN concat('salvaged:', actions)\n"
    "  WHEN award_is_junk(family, award) THEN 'junk_positive'\n"
    "  ELSE 'unclassified_kept'\n"
    "END"
)

_ALL = _ALL + (_AWARD_JUNK_STRIP, _AWARD_IS_JUNK, _AWARD_GUARD_REASON)

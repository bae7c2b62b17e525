"""Scraper parse-stage tests: the USAspending family fidelity gate.

The parse port (queries/usaspending.py) claims to cover the 14-script
federal scraper family with ONE shared query plus a per-member scope
table.  These tests re-derive that claim from the reference checkout
(plain-text reads only — no code from the reference is executed):

* the family enumeration (scripts containing the bulk-download
  endpoint constant) must equal ``_FAMILY``;
* each member's tier / awarding-agency name must match the script's
  request payload constants;
* the 9-vs-5 amount-coercion variant split must match each script's
  summary block (the non-coercing ones bind ``amount_for_summary``);
* the near-family scripts that merely mention USAspending must stay
  adjudicated non-members.
"""

from __future__ import annotations

import os
import re

import pytest

from openalex_walden_spark.queries.usaspending import _FAMILY

_REF_DIR = "/root/reference/scripts/local"

# USAspending-adjacent scrapers that are NOT template members — each
# has its own harvest/parse and is represented by the generic grammar
# batteries (COVERAGE.md, round-9 additions).
_NON_MEMBERS = {
    "doe_sc": "paginated spending_by_award search API with "
              "program_numbers filter — own parse, not the bulk template",
    "hhs_taggs": "HHS TAGGS export API (per-OPDIV slicing) — own parse",
    "cdmrp": "CDMRP search JSON API — own parse",
    "hrsa": "HRSA Data Warehouse CSV (USAspending mentioned as the "
            "rejected fallback)",
    "ies": "IES own publishing channel (USAspending mentioned as the "
           "rejected fallback)",
    "neh": "NEH own publishing channel (USAspending mentioned in prose "
           "only)",
}


def _read(slug: str) -> str:
    with open(os.path.join(_REF_DIR, f"{slug}_to_s3.py"), encoding="utf-8") as f:
        return f.read()


@pytest.mark.skipif(not os.path.isdir(_REF_DIR), reason="reference absent")
def test_usaspending_family_matches_reference():
    bulk = sorted(
        f[: -len("_to_s3.py")]
        for f in os.listdir(_REF_DIR)
        if f.endswith("_to_s3.py")
        and "BULK_DOWNLOAD_ENDPOINT" in _read(f[: -len("_to_s3.py")])
    )
    assert bulk == sorted(s for s, _, _, _ in _FAMILY), (
        "reference USAspending bulk family changed — re-adjudicate "
        "queries/usaspending.py"
    )
    for slug, tier, name, coerce in _FAMILY:
        src = _read(slug)
        m = re.search(r'"tier": "([a-z]+)"', src)
        assert m and m.group(1) == tier, (slug, tier)
        m = re.search(r'^[A-Z_]*AGENCY_NAME = "([^"]+)"', src, re.M)
        assert m and m.group(1) == name, (slug, name)
        # Non-coercing variant computes the summary into a separate
        # variable; the coercing variant mutates the column in place.
        assert ("amount_for_summary" in src) == (not coerce), (slug, coerce)
        assert '"02", "03", "04", "05"' in src, (slug, "grant types")
    # The adjudicated non-members must exist and stay off the template.
    for slug in _NON_MEMBERS:
        src = _read(slug)
        assert "BULK_DOWNLOAD_ENDPOINT" not in src, (
            f"{slug} adopted the bulk template — move it into _FAMILY"
        )


def test_usaspending_parse_plan(spark, sf_dir):
    """Scale shape: the latest-action dedup must plan as a rank-limit
    window (WindowGroupLimit prunes to top-1 per key MAP-SIDE before
    the single exchange), the 14-row scope table must broadcast, and
    there is no Python in the plan."""
    from openalex_walden_spark import queries as q

    q.load_all()
    df = q.CATALOG["usaspending_parse_awards"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "WindowGroupLimit" in plan and "Partial" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# IS VaVaI family (queries/isvavai.py)
# ---------------------------------------------------------------------------

@pytest.mark.skipif(not os.path.isdir(_REF_DIR), reason="reference absent")
def test_isvavai_family_matches_reference():
    from openalex_walden_spark.queries.isvavai import _PROVIDERS

    fleet = sorted(
        f[: -len("_to_s3.py")]
        for f in os.listdir(_REF_DIR)
        if f.endswith("_to_s3.py") and "isvavai" in _read(f[: -len("_to_s3.py")])
    )
    assert fleet == ["gacr", "meys", "mpo", "mvcr", "mze"], (
        "reference IS VaVaI fleet changed — re-adjudicate "
        "queries/isvavai.py"
    )
    for slug, code in _PROVIDERS:
        src = _read(slug)
        m = re.search(r'^[A-Z0-9_]*PROVIDER_CODE = "([A-Z0-9]+)"', src, re.M)
        assert m and m.group(1) == code, (slug, code)
        # Template members share the process function verbatim.
        assert "participant_ror" in src and "lead_ror" in src, slug
    # meys is the adjudicated variant: own schema + clean_blank
    # normalization, no title fallback.
    meys = _read("meys")
    assert "clean_blank" in meys and "participant_ror" not in meys


def test_isvavai_parse_plan(spark, sf_dir):
    """Provider registry broadcasts; the lead-ROR lookup is an equi
    hash join on the project code; no Python, no cartesian."""
    from openalex_walden_spark import queries as q

    q.load_all()
    df = q.CATALOG["isvavai_parse_projects"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# SweCRIS family (queries/swecris.py)
# ---------------------------------------------------------------------------

@pytest.mark.skipif(not os.path.isdir(_REF_DIR), reason="reference absent")
def test_swecris_family_matches_reference():
    from openalex_walden_spark.queries.swecris import (
        _GEN_A, _GEN_B_SINGLE, _SWEEP,
    )

    fleet = sorted(
        f[: -len("_to_s3.py")]
        for f in os.listdir(_REF_DIR)
        if f.endswith("_to_s3.py")
        and "swecris-api.vr.se" in _read(f[: -len("_to_s3.py")])
    )
    assert fleet == sorted(
        [s for s, _ in _GEN_A] + [s for s, _ in _GEN_B_SINGLE] + ["swecris"]
    ), "reference SweCRIS fleet changed — re-adjudicate queries/swecris.py"
    for slug, nr in _GEN_A:
        src = _read(slug)
        assert f'SWECRIS_FUNDER_ID = "{nr}"' in src, (slug, nr)
        # gen A: keep-first dedup, numeric amount, NO suffix strip.
        assert 'drop_duplicates(subset=["project_id"], keep="first")' in src
        assert "split_name" not in src, slug
    for slug, nr in _GEN_B_SINGLE:
        src = _read(slug)
        assert f'SWECRIS_FUNDER_ORG_NR = "{nr}"' in src, (slug, nr)
        # gen B: max-amount dedup (sorted before keep-first).
        assert 'sort_values("amount", ascending=False' in src, slug
    # energimyndigheten is the no-PI gen-B sibling.
    assert "split_name" not in _read("energimyndigheten")
    assert "split_name" in _read("ifau")
    sweep = _read("swecris")
    for nr, fid, name in _SWEEP:
        assert f'"{nr}": ({fid}, "{name}")' in sweep, (nr, fid)
    # vinnova reads Vinnova's own portal, not SweCRIS.
    assert "swecris-api.vr.se" not in _read("vinnova")


@pytest.mark.parametrize(
    "name", ["swecris_parse_projects", "swecris_sweep_parse"]
)
def test_swecris_parse_plan(spark, sf_dir, name):
    """The per-project dedup plans as a rank-limit window (map-side
    WindowGroupLimit prune, one exchange); the org registry broadcasts;
    the PI pick is in-row array algebra (no join, no Python)."""
    from openalex_walden_spark import queries as q

    q.load_all()
    df = q.CATALOG[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# FRIS family (queries/fris.py)
# ---------------------------------------------------------------------------

@pytest.mark.skipif(not os.path.isdir(_REF_DIR), reason="reference absent")
def test_fris_family_matches_reference():
    from openalex_walden_spark.queries.fris import _MEMBERS

    fleet = sorted(
        f[: -len("_to_s3.py")]
        for f in os.listdir(_REF_DIR)
        if f.endswith("_to_s3.py")
        and "frisr4.researchportal.be" in _read(f[: -len("_to_s3.py")])
    )
    assert fleet == sorted(s for s, _, _, _, _, _ in _MEMBERS), (
        "reference FRIS fleet changed — re-adjudicate queries/fris.py"
    )
    for slug, fid, name_lc, _, _, toks in _MEMBERS:
        src = _read(slug)
        assert f"FUNDER_ID = {fid}" in src, (slug, fid)
        assert f'FWO_FUNDER_NAME = "{name_lc}"' in src, (slug, name_lc)
        if len(toks) > 1:
            lst = ", ".join(f'"{t}"' for t in toks)
            assert f"PREFERRED_AUTHORITIES = [{lst}]" in src, (slug, toks)
        else:
            # fwo: single-token substring check, no preference list.
            assert "PREFERRED_AUTHORITIES" not in src, slug
            assert '"FWO" in (fi.get("authority") or "").upper()' in src
        # Membership by funding-party association, never string search.
        assert '"funding party"' in src.lower() or "funding party" in src


def test_fris_parse_plan(spark, sf_dir):
    """The membership filter is an explode of the funding-party name
    list into a broadcast equi-join (never a string scan of the whole
    document); everything else is in-row array algebra — no window, no
    Python, no cartesian."""
    from openalex_walden_spark import queries as q

    q.load_all()
    df = q.CATALOG["fris_parse_projects"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "Generate explode" in plan
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# NIHR single-scraper port (queries/nihrparse.py)
# ---------------------------------------------------------------------------

@pytest.mark.skipif(not os.path.isdir(_REF_DIR), reason="reference absent")
def test_nihr_port_matches_reference_rules():
    src = _read("nihr")
    # DHSC exclusion mask, verbatim rule.
    assert ('(df["programme"] == "Policy Research Programme") | '
            '(df["funder"] == "NIHR (ODA)")') in src
    # Title strip list and order.
    assert ('["Dr ", "Prof ", "Professor ", "Mr ", "Mrs ", "Ms ", '
            '"Miss "]') in src
    # ORCID junk values.
    assert '["not provided", "none", "null", ""]' in src
    # The array-typed column carve-out.
    assert 'list_cols = {"institution_country", "ukcrc_value"}' in src
    from openalex_walden_spark.queries.nihrparse import _TITLES

    assert list(_TITLES) == ["Dr ", "Prof ", "Professor ", "Mr ",
                             "Mrs ", "Ms ", "Miss "]


def test_nihr_parse_plan(spark, sf_dir):
    """Keep-first dedup as a rank-limit window; exclusion filter before
    the exchange; the two list columns render as deterministic JSON
    strings in the final projection (round-11 driver-canon fix — the
    arrays themselves still feed the upstream carve-out); no Python."""
    from openalex_walden_spark import queries as q

    q.load_all()
    df = q.CATALOG["nihr_parse_awards"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    schema = dict((f.name, f.dataType.simpleString()) for f in df.schema)
    assert schema["institution_country"] == "string"
    assert schema["ukcrc_value"] == "string"
    rows = {r.project_id: r for r in df.limit(0).collect()}  # schema only
    assert rows == {}
    # the JSON render is deterministic: spot-check shape on one row
    one = df.limit(1).collect()[0]
    assert one.institution_country.startswith("[")


# ---------------------------------------------------------------------------
# BMBF single-scraper port (queries/bmbfparse.py)
# ---------------------------------------------------------------------------

@pytest.mark.skipif(not os.path.isdir(_REF_DIR), reason="reference absent")
def test_bmbf_port_matches_reference_rules():
    src = _read("bmbf")
    # German amount parse: strip currency/space, dots out, comma -> dot.
    assert "re.sub(r'[€\\s]', '', amount_str)" in src
    assert "amount_str.replace('.', '').replace(',', '.')" in src
    # Date-range regex, verbatim.
    assert (r"(\d{2}\.\d{2}\.\d{4})\s*(?:bis|-)\s*(\d{2}\.\d{2}\.\d{4})"
            in src)
    # Encoding-robust label matches the port mirrors.
    for marker in ("'rdersumme' in label", "'rderart' in label",
                   "'rderprofil' in label", "'Zuwendungsempf' in label"):
        assert marker in src, marker
    # The stateful two-Ort assignment and the Referat extract.
    assert "project['zuwendungsempfaenger'] and not project['ort']" in src
    assert r"re.search(r'Referat\s+(\S+)', parts[1])" in src
    # Keep-first FKZ dedup.
    assert 'drop_duplicates(subset=["fkz"], keep="first")' in src


def test_bmbf_parse_plan(spark, sf_dir):
    """Keep-first FKZ dedup as a rank-limit window; the label lookups
    are in-row array lambdas; no join at all, no Python."""
    from openalex_walden_spark import queries as q

    q.load_all()
    df = q.CATALOG["bmbf_parse_projects"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# ARC single-scraper port (queries/arcparse.py)
# ---------------------------------------------------------------------------

@pytest.mark.skipif(not os.path.isdir(_REF_DIR), reason="reference absent")
def test_arc_port_matches_reference_rules():
    src = _read("arc")
    # The falsy scheme-information rule with the kept empty string.
    assert ('scheme_info.get("scheme-code", "").strip() '
            'if scheme_info else None') in src
    # Priorities render only when non-empty.
    assert ('json.dumps(grant_priorities) if grant_priorities '
            'else None') in src
    # Keep-first dedup by grant id.
    assert 'drop_duplicates(subset=["grant_id"], keep="first")' in src
    # end_date identity round-trip.
    assert 'df["end_date"].astype(str).replace("None", None)' in src


def test_arc_parse_plan(spark, sf_dir):
    """Keep-first dedup as a rank-limit window; no join, no Python;
    numeric columns stay numeric (ARC is not stringify-all)."""
    from openalex_walden_spark import queries as q

    q.load_all()
    df = q.CATALOG["arc_parse_grants"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    schema = dict((f.name, f.dataType.simpleString()) for f in df.schema)
    assert schema["grant_value"] == "double"
    assert schema["start_year"] == "bigint"


@pytest.mark.skipif(not os.path.isdir(_REF_DIR), reason="reference absent")
def test_nstc_grb_is_the_most_grb_template():
    """nstc_grb_to_s3.py is the taiwan_most_grb_to_s3.py template with
    different constants (funder id 2461203286 vs 4320322795, plan-organ
    BT200 vs BT100, row thresholds): the entire normalize kit —
    roc_year/roc_month/amount_twd/normalize_award_id/split_latin_name/
    person_from_name/split_people — must stay byte-identical between
    the two scripts, so ``taiwan_grb_parse_awards`` covers BOTH
    scrapers' parse compute.  If NSTC's normalize ever diverges, this
    fails and the port needs its own branch."""
    import re as _re

    def _fn_bodies(slug: str) -> dict:
        src = _read(slug)
        out = {}
        for m in _re.finditer(
                r"^def (roc_year|roc_month|amount_twd|normalize_award_id|"
                r"split_latin_name|person_from_name|split_people)\b.*?"
                r"(?=^def |^class |\Z)",
                src, _re.M | _re.S):
            out[m.group(1)] = m.group(0)
        return out

    a = _fn_bodies("nstc_grb")
    b = _fn_bodies("taiwan_most_grb")
    assert set(a) == set(b) and len(a) == 7
    for name in a:
        assert a[name] == b[name], f"{name} diverged between the GRB twins"


@pytest.mark.skipif(not os.path.isdir(_REF_DIR), reason="reference absent")
def test_sshrc_header_map_matches_reference():
    """The SSHRC bilingual/per-era header registry
    (openalex_walden_spark/queries/sshrcparse.py:HEADER_MAP) must equal
    the column_mappings dict in the reference's standardize_columns
    (sshrc_to_s3.py:305-372), re-derived here by AST so an upstream
    mapping change fails this test instead of silently diverging."""
    import ast

    src = _read("sshrc")
    tree = ast.parse(src)
    mapping = None
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign)
                and any(getattr(t, "id", "") == "column_mappings"
                        for t in node.targets)):
            mapping = ast.literal_eval(node.value)
    assert mapping, "column_mappings not found in sshrc_to_s3.py"

    from openalex_walden_spark.queries.sshrcparse import HEADER_MAP

    assert dict(HEADER_MAP) == mapping


@pytest.mark.skipif(not os.path.isdir(_REF_DIR), reason="reference absent")
def test_sloan_region_tables_match_reference():
    """The US-state and country-name tables in sloanparse must equal the
    reference's US_STATE_CODES / COUNTRY_NAME_TO_CODE (sloan_to_s3.py:
    169-189), re-derived by AST."""
    import ast

    src = _read("sloan")
    tree = ast.parse(src)
    states = countries = None
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign):
            for t in node.targets:
                if getattr(t, "id", "") == "US_STATE_CODES":
                    states = ast.literal_eval(node.value)
                if getattr(t, "id", "") == "COUNTRY_NAME_TO_CODE":
                    countries = ast.literal_eval(node.value)
    assert states and countries

    from openalex_walden_spark.queries.sloanparse import (
        COUNTRY_NAME_TO_CODE, US_STATE_CODES)

    assert set(US_STATE_CODES) == states
    assert dict(COUNTRY_NAME_TO_CODE) == countries


@pytest.mark.skipif(not os.path.isdir(_REF_DIR), reason="reference absent")
def test_dreyfus_program_registry_matches_reference():
    """The 4-scheme PROGRAM registry in dreyfusparse must match the
    reference's PROGRAMS list (dreyfus_to_s3.py:129-170) on every
    literal field (url_regex is the crawl seam and is skipped)."""
    import ast

    src = _read("dreyfus")
    tree = ast.parse(src)
    ref = None
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign)
                and any(getattr(t, "id", "") == "PROGRAMS"
                        for t in node.targets)):
            ref = []
            for d in node.value.elts:
                entry = {}
                for kn, vn in zip(d.keys, d.values):
                    try:
                        entry[ast.literal_eval(kn)] = ast.literal_eval(vn)
                    except ValueError:
                        pass  # url_regex: re.compile(...) — seam
                ref.append(entry)
    assert ref and len(ref) == 4

    from openalex_walden_spark.queries.dreyfusparse import PROGRAMS

    ours = [
        {"scheme": s, "scheme_label": lbl, "funding_type": ft,
         "amount": amt, "currency": cur}
        for s, lbl, ft, amt, cur in PROGRAMS
    ]
    assert ours == ref


@pytest.mark.skipif(not os.path.isdir(_REF_DIR), reason="reference absent")
def test_nhmrc_column_mapping_matches_reference():
    """The NHMRC port ships the reference's 60-entry rename table and
    its output-column list as data — AST-extract both from
    nhmrc_to_s3.py and require exact equality (keys, values, order of
    the output list)."""
    import ast

    from openalex_walden_spark.queries.nhmrcparse import (
        NHMRC_COLUMN_MAPPING,
        NHMRC_OUTPUT_COLUMNS,
    )

    tree = ast.parse(_read("nhmrc"))
    found_map = found_cols = None
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and len(node.targets) == 1 \
                and isinstance(node.targets[0], ast.Name):
            if node.targets[0].id == "column_mapping":
                found_map = ast.literal_eval(node.value)
            elif node.targets[0].id == "output_columns" \
                    and isinstance(node.value, ast.List):
                found_cols = ast.literal_eval(node.value)
    assert found_map is not None, "reference column_mapping not found"
    assert found_map == NHMRC_COLUMN_MAPPING
    assert found_cols is not None, "reference output_columns not found"
    assert found_cols == NHMRC_OUTPUT_COLUMNS


@pytest.mark.skipif(not os.path.isdir(_REF_DIR), reason="reference absent")
def test_pa_split_tables_match_reference():
    """The princess_asturias arm ships the reference's NO_SPLIT /
    CUSTOM_SPLITS / ORG_TERMS rule tables and the amount note as data
    — AST-extract all four from princess_asturias_to_s3.py and require
    exact equality."""
    import ast

    from openalex_walden_spark.queries.prizepattern import (
        PA_AMOUNT_NOTE,
        PA_CUSTOM_SPLITS,
        PA_NO_SPLIT_EXACT,
        PA_ORG_TERMS,
    )

    tree = ast.parse(_read("princess_asturias"))
    found = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and len(node.targets) == 1 \
                and isinstance(node.targets[0], ast.Name):
            name = node.targets[0].id
            if name in ("NO_SPLIT_EXACT", "CUSTOM_SPLITS", "ORG_TERMS",
                        "AMOUNT_NOTE"):
                found[name] = ast.literal_eval(node.value)
    assert found["NO_SPLIT_EXACT"] == PA_NO_SPLIT_EXACT
    assert found["CUSTOM_SPLITS"] == PA_CUSTOM_SPLITS
    assert found["ORG_TERMS"] == PA_ORG_TERMS
    assert found["AMOUNT_NOTE"] == PA_AMOUNT_NOTE


@pytest.mark.skipif(not os.path.isdir(_REF_DIR), reason="reference absent")
def test_hewlett_programs_match_reference():
    """The hewlett arm's program lattice must cover the reference's
    PROGRAMS list (id, name) exactly, and its currency constant."""
    import ast

    tree = ast.parse(_read("hewlett"))
    programs = currency = None
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and len(node.targets) == 1 \
                and isinstance(node.targets[0], ast.Name):
            if node.targets[0].id == "PROGRAMS":
                programs = ast.literal_eval(node.value)
            elif node.targets[0].id == "CURRENCY":
                currency = ast.literal_eval(node.value)
    assert currency == "USD"
    want = [
        ("24372977", "Economy and Society"), ("31392", "Education"),
        ("31528", "Effective Philanthropy"), ("21943", "Environment"),
        ("21300", "Gender Equity and Governance"),
        ("31521", "Performing Arts"), ("29057789", "Racial Justice"),
        ("31532", "Special Projects"), ("70696", "U.S. Democracy"),
    ]
    assert programs == want


@pytest.mark.skipif(not os.path.isdir(_REF_DIR), reason="reference absent")
def test_aos_constants_match_reference():
    """The AOS arm ships the scheme names, program URLs, the LACCR
    note, and parse_laccr_2023's hardcoded spec list as data —
    AST-extract all of them from aos_research_awards_to_s3.py."""
    import ast

    from openalex_walden_spark.queries.method5 import (
        AOS_KESSEL_SCHEME,
        AOS_KESSEL_URL,
        AOS_LACCR_2023_SPECS,
        AOS_LACCR_NOTE,
        AOS_LACCR_SCHEME,
        AOS_LACCR_URL,
    )

    tree = ast.parse(_read("aos_research_awards"))
    found = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and len(node.targets) == 1 \
                and isinstance(node.targets[0], ast.Name):
            name = node.targets[0].id
            if name in ("KESSEL_SCHEME", "LACCR_SCHEME",
                        "PROGRAM_URLS"):
                found[name] = ast.literal_eval(node.value)
            elif name == "specs" and isinstance(node.value, ast.List):
                # tuples are (str, str, Name) — the Name routes the
                # joint vs individual project variable
                found[name] = [
                    (t.elts[0].value, t.elts[1].value, t.elts[2].id)
                    for t in node.value.elts
                ]
    assert found["KESSEL_SCHEME"] == AOS_KESSEL_SCHEME
    assert found["LACCR_SCHEME"] == AOS_LACCR_SCHEME
    assert found["PROGRAM_URLS"]["kessel"] == AOS_KESSEL_URL
    assert found["PROGRAM_URLS"]["laccr"] == AOS_LACCR_URL
    # the laccr_2023 specs: (name, affiliation) pairs in order; the
    # third element of the port's tuples routes joint-vs-individual
    want = [(n, a, "joint_project" if k == "joint"
             else "individual_project")
            for n, a, k in AOS_LACCR_2023_SPECS]
    assert found["specs"] == want
    src = _read("aos_research_awards")
    assert AOS_LACCR_NOTE.replace("\n", "") in re.sub(
        r'"\s*\n\s*"', "", src).replace("\n", "")


@pytest.mark.skipif(not os.path.isdir(_REF_DIR), reason="reference absent")
def test_swp_tables_match_reference():
    """The stockholm_water_prize arm ships the URL-slug country
    vocabulary, the org-token alternation, and the degree-suffix set
    as data — extract all three from the reference."""
    import ast

    from openalex_walden_spark.queries.prizepattern import (
        SWP_COUNTRY_TOKENS,
        SWP_DEGREES,
        SWP_ORG_ALT,
    )

    src = _read("stockholm_water_prize")
    tree = ast.parse(src)
    country = degrees = None
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and len(node.targets) == 1 \
                and isinstance(node.targets[0], ast.Name):
            if node.targets[0].id == "COUNTRY_TOKENS":
                country = ast.literal_eval(node.value)
            elif node.targets[0].id == "_DEGREE_SUFFIXES":
                degrees = ast.literal_eval(node.value)
    assert country == SWP_COUNTRY_TOKENS
    # the port compares rstrip('.') forms — the reference set's dotted
    # variants collapse onto the same normalized tokens
    assert {d.rstrip(".") for d in degrees} == set(SWP_DEGREES)
    assert SWP_ORG_ALT.replace("|", "|") in src.replace("'\n    r'", "")


@pytest.mark.skipif(not os.path.isdir(_REF_DIR), reason="reference absent")
def test_hertz_constants_match_reference():
    """The hertz arm's degree set and fellowship amount are data —
    AST-extract both from hertz_to_s3.py."""
    import ast

    from openalex_walden_spark.queries.fellowdir import (
        HERTZ_AMOUNT_USD,
        HERTZ_DEGREES,
    )

    tree = ast.parse(_read("hertz"))
    degrees = amount = None
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and len(node.targets) == 1 \
                and isinstance(node.targets[0], ast.Name):
            if node.targets[0].id == "_DEGREE_SUFFIXES":
                degrees = ast.literal_eval(node.value)
            elif node.targets[0].id == "HERTZ_FELLOWSHIP_AMOUNT_USD":
                amount = ast.literal_eval(node.value)
    assert amount == HERTZ_AMOUNT_USD
    assert {d.rstrip(".") for d in degrees} == set(HERTZ_DEGREES)

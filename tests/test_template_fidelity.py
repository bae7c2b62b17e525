"""Reference-derived point expectations for template-shared queries.

Round-9 ADVICE: several queries (``usaspending_parse_awards``,
``cn_province_awards_parse``, ``nwo_parse_awards``,
``taiwan_grb_parse_awards``, ``lakebase_doc_shape``,
``serving_rearm_plan``) generate their DuckDB oracle from the same SQL
template as the Spark query with only dialect spellings swapped, so
DuckDB parity verifies dialect translation but cannot catch a porting
error shared by both dialects.  This module closes that gap: each test
REIMPLEMENTS the reference's parse/decision rules in plain Python
(cited per function), computes the complete expected output over the
sf0.001 fixture inputs, and compares it to the Spark query's actual
rows.  A template-shared bug now has to be made a third time, in a
different language, to survive.

The Python here follows the reference scripts' semantics, not the SQL
template — e.g. the CN date-range parse runs the reference's own regex
(``_cn_province_common.py:152``) via ``re.findall``, and the
USAspending latest-action dedup re-sorts transactions exactly as
``process_dataframe`` does (``noaa_to_s3.py:514-616``).
"""

from __future__ import annotations

import hashlib
import re
from datetime import date, timedelta

import pytest

from openalex_walden_spark import queries as q
from openalex_walden_spark.tables import register_views

q.load_all()


@pytest.fixture(scope="module")
def orders_rows(spark, sf_dir):
    register_views(spark, sf_dir, ("orders",))
    return [
        (r.o_orderkey, r.o_custkey, r.o_orderdate.date(), r.o_totalprice,
         r.o_orderpriority)
        for r in spark.table("orders").select(
            "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice",
            "o_orderpriority").collect()
    ]


def _run(spark, sf_dir, name):
    return q.CATALOG[name].spark(spark, sf_dir).collect()


# ---------------------------------------------------------------------------
# USAspending family (scripts/local/noaa_to_s3.py:514-616, acf_to_s3.py
# amount mutation)
# ---------------------------------------------------------------------------

_USA_SLUGS = ("acf", "acl", "ahrq", "cdc", "dod", "doe", "epa", "fda",
              "nasa", "nist", "noaa", "usaid", "usda", "usgs")
_USA_COERCE = {s: s in ("acf", "acl", "ahrq", "cdc", "dod", "doe", "epa",
                        "fda", "nasa") for s in _USA_SLUGS}


def _usa_date(raw: str) -> date | None:
    """pandas.to_datetime(errors='coerce') narrowed to the ISO fixture."""
    try:
        return date.fromisoformat(raw)
    except ValueError:
        return None


def test_usaspending_matches_reference_semantics(spark, sf_dir, orders_rows):
    """Full-output check of the latest-action dedup, coerce-to-NULL
    dates, and the 9-vs-5 amount-variant split, recomputed in Python
    from the reference's rules."""
    txns = []
    for k, c, d, p, pri in orders_rows:
        funder = _USA_SLUGS[k % 14]
        action_raw = ("TBD" if k % 13 == 0 else "" if k % 13 == 1
                      else (d + timedelta(days=k % 400)).isoformat())
        start_raw = "PENDING" if k % 17 == 0 else d.isoformat()
        end_raw = ("" if k % 23 == 0
                   else (d + timedelta(days=30 + k % 300)).isoformat())
        amount_raw = "N/A" if k % 19 == 0 else "" if k % 19 == 1 else str(p)
        txns.append({
            "seq": k, "funder": funder,
            "fain": f"FAIN{c % 149}",
            "action_dt": _usa_date(action_raw),
            "start_dt": _usa_date(start_raw),
            "end_dt": _usa_date(end_raw),
            "amount_raw": amount_raw,
            "recipient": f"Recipient {c % 97}",
            "desc": f"Grant action {pri}",
        })
    # latest action per (funder, fain): action_date desc NULLS LAST,
    # ingest order as the deterministic tie-break (the port's documented
    # stable-sort form of pandas keep='first')
    best: dict[tuple, dict] = {}
    for t in txns:
        key = (t["funder"], t["fain"])
        cur = best.get(key)
        if cur is None:
            best[key] = t
            continue
        rank = lambda x: (x["action_dt"] is not None,
                          x["action_dt"] or date.min)
        if rank(t) > rank(cur) or (rank(t) == rank(cur)
                                   and t["seq"] < cur["seq"]):
            best[key] = t
    expected = {}
    for (funder, fain), t in best.items():
        if _USA_COERCE[funder]:
            try:
                amt = str(float(t["amount_raw"]))
            except ValueError:
                amt = None
        else:
            amt = t["amount_raw"]
        expected[(funder, fain)] = (
            t["action_dt"].isoformat() if t["action_dt"] else None,
            t["start_dt"].isoformat() if t["start_dt"] else None,
            t["end_dt"].isoformat() if t["end_dt"] else None,
            amt, t["recipient"], t["desc"],
        )

    actual = _run(spark, sf_dir, "usaspending_parse_awards")
    assert len(actual) == len(expected)
    for r in actual:
        exp = expected[(r.funder, r.award_id_fain)]
        assert (r.action_date, r.period_of_performance_start_date,
                r.period_of_performance_current_end_date) == exp[:3], (
            r.funder, r.award_id_fain)
        if _USA_COERCE[r.funder] and exp[3] is not None:
            # amount re-rendered as a float: compare numerically (Java
            # vs Python shortest-repr may differ in the last digit)
            assert float(r.total_obligated_amount) == float(exp[3])
        else:
            assert r.total_obligated_amount == exp[3]
        assert (r.recipient_name, r.award_description) == exp[4:]


# ---------------------------------------------------------------------------
# CN provincial shared library (_cn_province_common.py:74-200)
# ---------------------------------------------------------------------------

_CN_DATE_RE = re.compile(r"(\d{4})[-/.年]\s*(\d{1,2})?[-/.月]?\s*(\d{1,2})?")
_CN_NUM = "一二三四五六七八九十百"


def _cn_split_name(name):  # split_name, _cn_province_common.py:85-102
    if name is None:
        return (None, None)
    n = re.sub(r"\s+", " ", name.replace("　", " ").replace("\xa0", " ")).strip()
    n = n.strip("·.,，、 ")
    if not n:
        return (None, None)
    if re.search(r"[A-Za-z]", n):
        parts = n.split()
        if len(parts) > 1:
            return (" ".join(parts[:-1]), parts[-1])
        return (None, n)
    return (None, n)


def _cn_amount(raw):  # parse_amount_wan, :127-143
    if raw is None:
        return None
    s = raw.replace(",", "").replace("，", "")
    m = re.search(r"-?\d+(?:\.\d+)?", s)
    if not m or float(m.group(0)) <= 0:
        return None
    return float(m.group(0)) * 10000.0


def _cn_dates(raw):  # parse_date_range, :145-166
    if raw is None:
        return (None, None)
    out = [f"{int(y):04d}-{int(m) if m else 1:02d}-{int(d) if d else 1:02d}"
           for y, m, d in _CN_DATE_RE.findall(raw)]
    return (out[0] if out else None, out[1] if len(out) > 1 else None)


def _cn_scheme(raw):  # scheme_from_heading, :114-124
    if raw is None:
        return None
    c = re.sub(rf"^[（(]?[{_CN_NUM}]+[）)]?[、\.．]\s*", "", raw)
    c = re.split(r"[，,（(]|\d+项|共\d|经费", c)[0].strip()
    return c or None


def test_cn_province_matches_reference_semantics(spark, sf_dir, orders_rows):
    expected = {}
    for k, *_ in orders_rows:
        pi_raw = {0: "ZHANG Wei", 1: "Maria van der Berg", 2: "王伟",
                  3: " ·李娜 "}.get(k % 5)
        amount_raw = {0: f"{k % 900 + 100}.5万元",
                      1: f"1,{k % 1000:03d}万元", 2: "0"}.get(k % 4)
        period_raw = {0: f"{k % 6 + 2019}-03-01至{k % 6 + 2022}-02-28",
                      1: f"{k % 6 + 2019}.03-{k % 6 + 2022}.02",
                      }.get(k % 3, f"{k % 6 + 2019}年")
        heading_raw = {0: f"（一）面上项目{k % 200}项，经费{k % 2000}万元",
                       1: "二、青年基金"}.get(k % 3)
        native_id = (f"ZR{k % 6 + 2019}MH{k % 1000:03d}"
                     if k % 7 != 0 else None)
        display = f"Study {k}"
        inst = f"University {k % 97}"

        given, family = _cn_split_name(pi_raw)
        start, end = _cn_dates(period_raw)
        scheme = _cn_scheme(heading_raw)
        if native_id:
            row_key = native_id.lower()
        else:  # finalize_df._rk, :193-200 (source_year := start year)
            basis = "|".join(str(v or "") for v in (
                display, family, inst, start[:4] if start else None, scheme))
            row_key = "cnprov-" + hashlib.md5(
                basis.encode("utf-8")).hexdigest()[:16]
        expected[k] = (row_key, given, family, _cn_amount(amount_raw),
                       start, end, scheme, native_id, display, inst, "CN")

    actual = _run(spark, sf_dir, "cn_province_awards_parse")
    assert len(actual) == len(expected)
    for r, (k, exp) in zip(
            sorted(actual, key=lambda r: r.display_name),
            sorted(expected.items(), key=lambda kv: f"Study {kv[0]}")):
        got = (r.row_key, r.given_name, r.family_name, r.amount_cny,
               r.start_date, r.end_date, r.funder_scheme,
               r.funder_award_id, r.display_name, r.institution,
               r.country_code)
        assert got == exp, f"orderkey {k}: {got} != {exp}"


# ---------------------------------------------------------------------------
# NWO member-role election (scripts/local/nwo_to_s3.py:326-470)
# ---------------------------------------------------------------------------

def test_nwo_matches_reference_semantics(spark, sf_dir, orders_rows):
    expected = {}
    for k, _, d, *_ in orders_rows:
        m1_role = "Researcher" if k % 7 == 0 else "Main Applicant"
        m1_orcid = ("https://orcid.org/-" if k % 11 == 0 else
                    f"https://orcid.org/0000-0002-{k % 10000:04d}-0001")
        m2_role = ("Project leader" if k % 7 == 0 and k % 2 == 0
                   else "Researcher")
        members = [
            {"role": m1_role, "orcid": m1_orcid, "first": "Anna",
             "last": "de Vries",
             "org": "Universiteit Utrecht||Faculteit Betawetenschappen"},
            {"role": m2_role, "orcid": None, "first": "Jan",
             "last": "Jansen", "org": "TU Delft"},
        ]
        # role cascade: Main Applicant, else Project leader, else first
        pi = next((m for m in members if m["role"] == "Main Applicant"),
                  None) or next(
            (m for m in members if m["role"] == "Project leader"),
            None) or members[0]
        pi_id = (pi["orcid"] if pi["orcid"] and
                 pi["orcid"] != "https://orcid.org/-" else None)
        expected[f"NWO.{k}"] = (
            f"Project {k}",
            (f"English summary {k}" if k % 3 != 0
             else f"Nederlandse samenvatting {k}"),
            {0: "Open Competitie ENW", 1: "Veni", 2: "Vici",
             3: "Spinozapremie"}[k % 4],
            "Exacte Wetenschappen" if k % 5 == 0 else "ENW",
            d.isoformat(), pi_id, pi["first"], pi["last"],
            pi["org"].split("||")[0].strip(),
        )

    actual = _run(spark, sf_dir, "nwo_parse_awards")
    assert len(actual) == len(expected)
    for r in actual:
        exp = expected[r.project_id]
        got = (r.title, r.abstract, r.grant_category, r.lead_funder,
               r.start_date, r.pi_id, r.pi_given_name, r.pi_family_name,
               r.lead_org_name)
        assert got == exp, f"{r.project_id}: {got} != {exp}"


# ---------------------------------------------------------------------------
# Taiwan GRB normalize (scripts/local/taiwan_most_grb_to_s3.py:159-510)
# ---------------------------------------------------------------------------

_GRB_REF_YEAR = 2026
_GRB_SUFFIX_RE = re.compile(
    r"\b(Ph\.?D\.?|MD|M\.?D\.?|Dr\.?|Prof\.?|Jr\.?|Sr\.?|II|III|IV)\b\.?",
    re.IGNORECASE)


def _grb_roc_year(raw):
    digits = re.sub(r"[^0-9]", "", raw or "")
    if len(digits) >= 3:
        y = int(digits[:3]) + 1911
        if 1900 <= y <= _GRB_REF_YEAR + 1:
            return str(y)
    return None


def _grb_roc_month(raw):
    digits = re.sub(r"[^0-9]", "", raw or "")
    if len(digits) >= 5 and 1 <= int(digits[3:5]) <= 12:
        return f"{int(digits[3:5]):02d}"
    return None


def _grb_norm_id(raw):
    return re.sub(r"\s+", "", raw or "").upper() or None


def _grb_desuffix(name):
    out = re.sub(r"\s+", " ", _GRB_SUFFIX_RE.sub("", name))
    return out.strip(" ,")


def test_taiwan_grb_matches_reference_semantics(spark, sf_dir, orders_rows):
    expected = {}
    for k, *_ in orders_rows:
        if k % 13 == 0:
            continue  # no id of any kind -> dropped
        opn = (None if k % 3 == 0
               else f"most {k % 30 + 85}-2221-e-{k % 1000:03d}")
        award_id = (_grb_norm_id(opn) or _grb_norm_id(f"sys{k % 100000:06d}")
                    or f"GRB-{k % 1000000}")
        title = (f"Study of topic {k}" if k % 4 != 0
                 else f"chinese title {k}")
        start_ym = ("xx" if k % 11 == 0
                    else f"{k % 30 + 85}{k % 12 + 1:02d}01")
        end_ym = f"{k % 30 + 88}{k % 12 + 1:02d}31"
        start_year = _grb_roc_year(start_ym) or _grb_roc_year(str(k % 30 + 85))
        amount_raw = {0: f"{k % 5000}.5", 1: f"1,{k % 1000:03d}",
                      2: "0"}.get(k % 4)
        amount = None
        if amount_raw is not None:
            v = float(re.sub(r"[^0-9.\-]", "", amount_raw) or 0)
            amount = v * 1000 if v > 0 else None
        lead = {0: "Dr. John A. Smith", 1: "王小明", 2: "CHEN Li-hua"}[k % 3]
        if re.match(r"^[A-Za-z][A-Za-z .,'-]+$", lead) and " " in lead:
            clean = _grb_desuffix(lead)
            given = " ".join(clean.split()[:-1]) or None
            family = clean.split()[-1]
        else:
            given, family = None, lead
        co_raw = {0: "李大仁；Prof. Mary K. Jones、陳美麗", 1: "張三"}.get(k % 5)
        co_parts = ([p for p in re.split(r"\s*[;；、,，/]\s*", co_raw)
                     if p.strip()] if co_raw else [])
        expected[award_id] = (
            title, start_year, _grb_roc_year(end_ym),
            _grb_roc_month(start_ym),
            _grb_roc_month(end_ym), amount,
            "TWD" if amount is not None else None,
            given, family,
            co_parts[0] if co_parts else None,
            max(len(co_parts) - 1, 0),
            f"National University {k % 150}",
        )

    actual = _run(spark, sf_dir, "taiwan_grb_parse_awards")
    assert len(actual) == len(expected)
    for r in actual:
        exp = expected[r.funder_award_id]
        got = (r.display_name, r.start_year, r.end_year, r.start_month,
               r.end_month, r.amount, r.currency, r.lead_given_name,
               r.lead_family_name, r.co_lead_raw, r.n_investigators,
               r.executing_institution)
        assert got == exp, f"{r.funder_award_id}: {got} != {exp}"


# ---------------------------------------------------------------------------
# Lakebase doc shape (notebooks/lakebase/BuildLakebaseWorksDocs.py:150-230)
# ---------------------------------------------------------------------------

def _lakebase_truncate(s, cap=400, guard=100):
    """truncate_abstract_index_string: cut back to the last complete
    word array inside (cap - guard), re-close, '{}' when impossible or
    unbalanced."""
    if s is None:
        return None
    if len(s) <= cap:
        shaped = s
    else:
        m = re.match(r"^(.*\]),", s[: cap - guard])
        if not m:
            return "{}"
        shaped = m.group(1) + "}"
    if shaped.count("{") != shaped.count("}"):
        return "{}"
    return shaped


def test_lakebase_doc_shape_matches_reference_semantics(
        spark, sf_dir, orders_rows):
    from datetime import datetime, timedelta as td

    expected = {}
    for k, _, d, *_ in orders_rows:
        if k % 4 == 0:
            abs_json = f'{{"w{k}":[1,2],"x":[3]}}'
        elif k % 4 == 1:
            abs_json = "{" + f'"t{k % 97}":[1,2,3],' * 40 + '"zz":[9]}'
        elif k % 4 == 2:
            abs_json = '{"only":[' + f"{k % 1000}," * 120 + "1]}"
        else:
            abs_json = None
        micros = (k % 1000000) * (0 if k % 5 == 0 else 1)
        ts = datetime(d.year, d.month, d.day) + td(microseconds=micros)
        doc = _lakebase_truncate(abs_json)
        expected[k] = (ts.isoformat(), doc,
                       len(doc) if doc is not None else -1)

    actual = _run(spark, sf_dir, "lakebase_doc_shape")
    assert len(actual) == len(expected)
    for r in actual:
        exp = expected[r.work_id]
        got = (r.updated_at_iso, r.abstract_doc, r.doc_len)
        assert got == exp, f"work {r.work_id}: {got} != {exp}"


# ---------------------------------------------------------------------------
# Endpoint rearm decision table (serving/rearm_endpoint.py, oxjob #709)
# ---------------------------------------------------------------------------

def test_serving_rearm_matches_reference_semantics(spark, sf_dir):
    register_views(spark, sf_dir, ("customer",))
    custkeys = [r.c_custkey for r in
                spark.table("customer").select("c_custkey").collect()]
    expected = {}
    for c in custkeys:
        mode = "up" if c % 2 == 0 else "rearm"
        max_conc = 16 if c % 3 == 0 else 4
        scaled_zero = c % 5 == 0
        has_ws = c % 3 == 1
        if mode == "up":
            action, n = (("noop_already_max", 0) if max_conc == 16
                         else ("scale_up", 1))
        elif scaled_zero:
            action, n = "noop_already_zero", 0
        elif has_ws:
            action, n = "rearm_hop", 2      # min0/max8 then workload_size
        else:
            action, n = "rearm_single", 1
        expected[f"ep-{c}"] = (mode, action, n)

    actual = _run(spark, sf_dir, "serving_rearm_plan")
    assert len(actual) == len(expected)
    for r in actual:
        assert (r.mode, r.action, r.n_puts) == expected[r.endpoint], r.endpoint


# ---------------------------------------------------------------------------
# TWAS awards archive (scripts/local/twas_awards_to_s3.py)
# ---------------------------------------------------------------------------

def _twas_collapse(v):  # collapse_text, twas_awards_to_s3.py:113-118
    if v is None:
        return None
    t = re.sub(r"\s+", " ", str(v).replace("\xa0", " ")).strip()
    t = re.sub(r"\s+([,;.:])", r"\1", t)
    return t or None


def _twas_clean_field(v):  # clean_field, :223-236
    t = _twas_collapse(v)
    if not t:
        return None
    t = re.sub(r"^\d{4}\s+TWAS\s+(?:Prize|Award|Awards)\s+(?:in|for)\s+",
               "", t, flags=re.I)
    t = re.sub(r"^TWAS[- ]Celso Furtado Prize in\s+", "", t, flags=re.I)
    t = re.sub(r"\s*\((?:shared|Shared)\)\s*$", "", t).strip()
    t = re.sub(r",\s*shared$", "", t, flags=re.I).strip()
    t = t.strip(" :")
    return {"Engineering Science": "Engineering Sciences"}.get(t, t) or None


def _twas_split_citation(text):  # split_citation, :258-271
    text = _twas_collapse(text)
    if not text:
        return None, None
    m = re.search(r",?\s+(for\s+.*)$", text, flags=re.I)
    if m:
        return _twas_collapse(text[: m.start()]), _twas_collapse(m.group(1))
    m = re.search(
        r",?\s+(is|are|was|were)\s+(?:honou?red|recognized|recognised)\s+(.*)$",
        text, flags=re.I)
    if m:
        return _twas_collapse(text[: m.start()]), _twas_collapse(
            text[m.start():])
    return text, None


def _twas_name_country(prefix):  # parse_name_country, :274-305
    t = _twas_collapse(prefix)
    if not t:
        return None, None, None
    t = re.sub(r"^Winner:\s*", "", t, flags=re.I)
    t = re.sub(r"^\*+\s*", "", t).strip(" ,")
    m = re.match(
        r"^(?P<name>.+?),\s*(?:(?:FTWAS|Male|Female),?\s*)*(?:from|of)\s+"
        r"(?P<country>.+)$", t, flags=re.I)
    if m:
        return (_twas_collapse(m.group("name")),
                _twas_collapse(m.group("country")), None)
    m = re.match(
        r"^(?P<name>.+?)\s+(?:of|from)\s+"
        r"(?P<country>[^,]+(?:,\s*China| and [^,]+)?)$", t, flags=re.I)
    if m:
        return (_twas_collapse(m.group("name")),
                _twas_collapse(m.group("country")), None)
    m = re.match(r"^(?P<name>.+?)\s*\((?P<country>[^)]+)\),?\s*"
                 r"(?P<context>.*)$", t)
    if m:
        return (_twas_collapse(m.group("name")),
                _twas_collapse(m.group("country")),
                _twas_collapse(m.group("context").lstrip(", ")))
    return t, None, None


def _twas_split_name(name):  # split_name, :127-139
    if not name:
        return None, None
    toks = name.split()
    suff = {"phd", "md", "dphil", "dsc", "scd", "jr.", "sr.", "ii", "iii",
            "iv", "jr", "sr"}
    while toks and toks[-1].lower().strip(",.") in suff:
        toks.pop()
    if not toks:
        return None, None
    if len(toks) == 1:
        return None, toks[0]
    return " ".join(toks[:-1]), toks[-1]


def _twas_slug(v):  # slugify, :121-124
    v = re.sub(r"[^a-z0-9]+", "-", (v or "").lower()).strip("-")
    return v or "unknown"


def _twas_trim(v, places):  # amount_per_laureate/portion render, :308-323
    if v == int(v):
        return str(int(v))
    return f"{v:.{places}f}".rstrip("0").rstrip(".")


def test_twas_matches_reference_semantics(spark, sf_dir, orders_rows):
    expected = {}
    for k, *_ in orders_rows:
        year = k % 31 + 1995
        field_raw = {0: f"{year} TWAS Prize in Biology",
                     1: "Engineering Science", 2: "Chemistry (shared)",
                     3: "Mathematics, shared", 5: " Physics  : "}.get(k % 6)
        label = {0: f"{year} TWAS Prize in Biology, shared",
                 1: "Archive announcement"}.get(k % 4)
        prefix = {
            0: f"Winner: Maria Santos{k % 89}, Female, from Brazil",
            1: f"Li Wei{k % 89} of China",
            2: f"Ahmed Hassan{k % 89} (Egypt), Cairo University",
            3: f"** John A. Smith{k % 89} PhD",
            4: f"Rosa Diaz{k % 89} Jr.",
        }[k % 5]
        tail = {0: ", for contributions to tropical disease research",
                1: ", is honoured for advancing basic science"}.get(k % 3, "")
        amount_ctx = ("The prize carries USD 15,000 for the laureate."
                      if k % 2 == 0 else None)
        group = k % 3 + 1
        per_winner = k % 8 < 4

        raw_text = _twas_collapse(prefix + tail)
        before, citation = _twas_split_citation(raw_text)
        name, country, affil = _twas_name_country(before)
        assert name  # the fixture always yields a laureate
        field = _twas_clean_field(field_raw)
        label_c = _twas_collapse(label)
        if label_c and re.search(r"\bTWAS\b", label_c, flags=re.I):
            award_name = re.sub(r",\s*shared$", "", label_c,
                                flags=re.I).strip()
        elif year <= 2002:
            award_name = f"TWAS Award in Basic Sciences - {field or 'Unknown Field'}"
        elif year >= 2022:
            award_name = f"TWAS Award in {field or 'Unknown Field'}"
        else:
            award_name = f"TWAS Prize in {field or 'Unknown Field'}"
        m = re.search(r"USD\s*([0-9][0-9,]*)", amount_ctx or "", flags=re.I)
        amount = m.group(1).replace(",", "") if m else None
        given, family = _twas_split_name(name)
        amt_per = None
        if amount is not None:
            amt_per = (_twas_trim(float(amount), 6) if per_winner
                       else _twas_trim(float(amount) / max(group, 1), 6))
        fid = f"twas-awards-{year}-{_twas_slug(field)}-{_twas_slug(name)}"
        expected[fid] = (
            str(year), award_name, field, name, given, family, country,
            affil or None, citation, citation or raw_text, amount, amt_per,
            "USD" if amount else None, str(group),
            _twas_trim(1.0 / max(group, 1), 8))

    actual = _run(spark, sf_dir, "twas_parse_awards")
    assert len(actual) == len(expected)
    for r in actual:
        exp = expected[r.funder_award_id]
        got = (r.award_year, r.award_name, r.award_field, r.laureate_name,
               r.laureate_given_name, r.laureate_family_name,
               r.laureate_country_or_nationality,
               r.laureate_affiliation_or_context, r.citation, r.description,
               r.source_award_amount, r.amount_per_laureate, r.currency,
               r.award_group_size, r.portion)
        assert got == exp, f"{r.funder_award_id}: {got} != {exp}"


# ---------------------------------------------------------------------------
# BHF annual-report grants (scripts/local/bhf_to_s3.py)
# ---------------------------------------------------------------------------

_BHF_TITLES = {"dr", "prof", "professor", "mr", "mrs", "ms", "miss", "sir",
               "dame", "lord", "lady", "rev", "revd"}
_BHF_SUFF = {
    "phd", "md", "dphil", "dsc", "scd", "msc", "ma", "ba", "bs", "bsc",
    "bm", "bch", "bchir", "mb", "mbbs", "mbchb", "chb", "bmedsci", "bmbs",
    "mbbch", "frcp", "frcs", "frcpath", "frcpe", "frceng", "frs", "frcr",
    "frca", "fmedsci", "facc", "faha", "fesc", "frcpsych", "mrcp", "mrcs",
    "mrcpch", "dm", "do", "edd", "llb", "llm", "mphil", "pgce", "rgn", "rn",
    "msci", "jr", "sr", "ii", "iii", "iv", "frcgp", "fhea", "mrcgp", "dnbe",
    "ches", "bvsc", "bvms", "mrcvs", "vmd", "frse", "mres", "frsb", "frsc",
    "fba", "frcophth", "facss", "meng", "beng", "cbe", "obe", "mbe", "kbe",
    "dbe", "gbe"}
_BHF_PLACEHOLDER = re.compile(
    r"\b(to be (appointed|confirmed|announced|recruited|named)"
    r"|student to be|not yet|tbc|tba|n/?a)\b", re.I)
_BHF_PLACE = r"(?:East Anglia|the [A-Z][\w’\-]+|[A-Z][\w’\-]+)"
_BHF_STEM = re.compile(r"(University|College|Imperial|King’?s|Queen’?s?)$",
                       re.I)
_BHF_OF = re.compile(rf"^({_BHF_PLACE})")
_BHF_COMPL = re.compile(rf"^(of {_BHF_PLACE}|College London|College|London)")


def _bhf_split_name(full):  # split_name, bhf_to_s3.py:224-245
    s = re.sub(r"\([^)]*\)", " ", full).replace(",", " ")
    toks = [t for t in s.split() if t]
    while toks and toks[0].rstrip(".").lower() in _BHF_TITLES:
        toks.pop(0)
    while toks and toks[-1].rstrip(".").lower() in _BHF_SUFF:
        toks.pop()
    if not toks:
        return ("", "")
    if len(toks) == 1:
        return ("", toks[0])
    return (" ".join(toks[:-1]), toks[-1])


def _bhf_repair(inst, title):  # _repair_institution, :754-767
    if not inst or not title:
        return inst, title
    stem, t = inst.rstrip(), title.strip()
    if stem.endswith(" of"):
        m = _BHF_OF.match(t)
    elif _BHF_STEM.search(stem):
        m = _BHF_COMPL.match(t)
    else:
        return inst, title
    if not m:
        return inst, title
    return (stem + " " + m.group(0)).strip(), t[m.end():].strip()


def test_bhf_matches_reference_semantics(spark, sf_dir, orders_rows):
    best = {}
    for k, *_ in sorted(orders_rows):
        if k % 9 == 0:
            continue  # invalid reference number -> dropped
        if k % 9 == 1:
            ref = f"FS/{k % 30:02d}/{k % 497:05d}"
        else:
            ref = f"PG/{k % 30:02d}/{k % 497:05d}"
        if ref in best:
            continue  # cross-report keep-first
        name_raw = {0: "Dr H F Jorgensen",
                    1: "Prof A Baker BSc (Hons) PhD FAHA",
                    2: "Dr K A Dora BSc PhD MA",
                    3: "student to be recruited",
                    4: "Sir Brian Hospital", 5: "Mrs J Smith OBE"}[k % 6]
        scheme = {0: "Project Grants", 1: "PhD Studentships (continued)",
                  2: "Intermediate Basic Science Research Fellowships"
                  }.get(k % 4)
        inst = {0: "University of", 1: "Imperial"}.get(k % 7,
                                                       "University of Oxford")
        title = {
            0: f"Cambridge Structural mechanisms of project {k} 24 months",
            1: f"College London Advanced imaging study {k} 3 years.",
        }.get(k % 7, f"Cardiac biology study {k}"
              + (" 60 months" if k % 2 == 0 else ""))
        amt = {0: f"£{k % 900 + 100},{k % 1000:03d}.78", 1: "£250,000",
               2: "£0"}.get(k % 4)
        period = ["2021/22", "2022/23", "2023/24"][k % 3]

        raw_name = "" if _BHF_PLACEHOLDER.search(name_raw) else name_raw
        given, family = _bhf_split_name(raw_name) if raw_name else ("", "")
        if (family or "").lower() in {"university", "college", "institute",
                                      "hospital", "trust", "imperial"}:
            given, family, raw_name = "", "", ""
        inst2, title2 = _bhf_repair(inst, title)
        m = re.search(r"(\d+)\s*months?\b", title2, re.I)
        dur = (int(m.group(1)) if m else None)
        if dur is None:
            y = re.search(r"(\d+)\s*(?:years?|yrs?)\b", title2, re.I)
            dur = int(y.group(1)) * 12 if y else None
        t = re.sub(r"\d+\s*months?\b", "", title2, flags=re.I)
        t = re.sub(r"\d+\s*(?:years?|yrs?)\b", "", t, flags=re.I)
        clean_title = re.sub(r"\s+", " ", t).strip(" .")
        amount = None
        if amt:
            am = re.search(r"[\d,]+(?:\.\d+)?", amt)
            if am:
                f = float(am.group(0).replace(",", ""))
                amount = f"{f:.2f}" if f > 0 else None
        best[ref] = (
            period, period.split("/")[0],
            (re.sub(r"\s*\(continued\)\s*$", "", scheme, flags=re.I).strip()
             or None) if scheme else None,
            clean_title, amount, "GBP" if amount else None,
            str(dur) if dur is not None else None,
            raw_name or None, given or None, family or None, inst2 or None,
            ("training" if re.search(r"studentship|phd", (scheme or "").lower())
             else "fellowship" if "fellowship" in (scheme or "").lower()
             else "research"),
        )

    actual = _run(spark, sf_dir, "bhf_parse_awards")
    assert len(actual) == len(best)
    for r in actual:
        exp = best[r.funder_award_id]
        got = (r.report_period, r.report_year_start, r.funder_scheme,
               r.title, r.amount, r.currency, r.duration_months,
               r.lead_full_name, r.lead_given_name, r.lead_family_name,
               r.institution, r.funding_type)
        assert got == exp, f"{r.funder_award_id}: {got} != {exp}"
        assert r.declined is False


# ---------------------------------------------------------------------------
# Canada Council prizes (scripts/local/canada_council_prizes_to_s3.py)
# ---------------------------------------------------------------------------

_CC_ORG = re.compile(
    r"\b(Gallery|Museum|Architects?|Architecture|Studio|Theatre|Orchestra|"
    r"Centre|Council|Foundation|University|Inc\.?|Association|Festival|"
    r"Productions|Company|Library|School|Institute|Corporation|Office|"
    r"Collective|Society|Network|Alliance|Firm|Biennale|Design|MODA|KPMB|"
    r"MJMA)\b", re.I)
_CC_BAD = re.compile(
    r"(no award|aucun prix|bringing the arts|cumulative|new format|"
    r"shared/bourse|hebrew course|faculty exchange|program:|programme|"
    r"offered|Canada Council for the Arts|canadacouncil\.ca|1-800-263-5588|"
    r"N\.B\. Before|Before 2002|OUTSTANDING CONTRIBUTION|"
    r"CONTRIBUTION EXCEPTIONNELLE|SAIDYE BRONFMAN AWARD|PRIX SAIDYE)", re.I)
_CC_LOCATIONS = {
    "AB", "Alberta", "B.C.", "BC", "Britannique", "British Columbia",
    "Colombie-Britannique", "Columbia", "Manitoba", "Montreal", "Montréal",
    "NB", "N.B.", "New Brunswick", "NL", "Nova Scotia", "NS", "N.S.", "ON",
    "Ontario", "Ottawa", "PE", "QC", "Quebec", "Québec", "Saskatchewan",
    "Toronto", "Vancouver", "Musée des beaux-arts de l’Ontario"}
_CC_GG_LABELS = {
    "fiction": "Fiction", "nonFiction": "Non-fiction",
    "proseAndPoetry": "Prose and Poetry", "juvenile": "Juvenile",
    "poetry": "Poetry", "drama": "Drama",
    "childrensLiteratureIllustration": "Children's Literature - Illustration",
    "youngPeoplesLiteratureText": "Young People's Literature - Text",
    "translationFrenchToEnglish": "Translation: French to English",
    "translationEnglishToFrench": "Translation: English to French"}


def _cc_clean(v):
    if v is None:
        return None
    return re.sub(r"\s+", " ", str(v)).strip() or None


def _cc_slug(v):
    t = _cc_clean(v) or "unknown"
    t = re.sub(r"[^a-zA-Z0-9]+", "-", t.lower()).strip("-")
    return t or "unknown"


def _cc_extract(entry):  # extract_name_category_work, :417-461
    raw = _cc_clean(entry) or ""
    english = _cc_clean(raw.split("|", 1)[0]) or ""
    category = work = None
    m = re.match(r"^(First Prize|Second Prize|Third Prize|Honou?rable "
                 r"Mention|Special Prize)\s*[:-]\s*(.+)$", english, re.I)
    if m:
        category = _cc_clean(m.group(1))
        english = _cc_clean(m.group(2)) or ""
    np = _cc_clean(re.sub(r"\([^)]*\)", " ", english)) or ""
    m = re.search(r"\bfor(?:/pour)?\b\s+(.+)$", np, re.I)
    if m:
        work = _cc_clean(m.group(1))
        np = _cc_clean(np[: m.start()]) or ""
    m = re.search(r"\bfor the (?:acquisition|purchase)\b", np, re.I)
    if m:
        np = _cc_clean(np[: m.start()]) or ""
    m = re.match(r"^(.+?)\s+[\-–—]\s+([A-Za-z][A-Za-z /&-]{2,50})(?:\s|$)",
                 np)
    if m:
        np = _cc_clean(m.group(1)) or ""
        category = category or _cc_clean(m.group(2))
    if "," in np:
        before, after = np.split(",", 1)
        np = _cc_clean(before) or ""
        category = category or (_cc_clean(after) or "")[:120]
    if ":" in np:
        np = _cc_clean(np.split(":")[-1]) or ""
    np = re.sub(r"^(Dr\.|Prof\.|Professor)\s+", "", np).strip()
    if np in _CC_LOCATIONS or np.rstrip(")") in _CC_LOCATIONS:
        return None, category, work
    return np or None, category, work


def _cc_split_name(full):  # split_name, :284-310
    if not full:
        return None, None
    if _CC_ORG.search(full) or " and " in full.lower() or "&" in full:
        return None, None
    toks = full.strip().split()
    suff = {"phd", "ph.d.", "md", "m.d.", "dphil", "frs", "jr", "jr.", "sr",
            "sr.", "ii", "iii", "iv"}
    while toks and toks[-1].lower().strip(",.") in suff:
        toks.pop()
    if len(toks) <= 1:
        return None, toks[0] if toks else None
    return " ".join(toks[:-1]), toks[-1]


def test_canada_council_matches_reference_semantics(
        spark, sf_dir, orders_rows):
    expected = {}
    for k, *_ in orders_rows:
        year = k % 36 + 1990
        if k % 2 == 0:  # PDF arm
            slug_p = ["killam-prize", "molson-prize",
                      "walter-carsen-prize"][k % 3]
            name_p = ["Killam Prize", "Molson Prize",
                      "Walter Carsen Prize"][k % 3]
            entry = {
                0: (f"First Prize: Alice Munro{k}, Writing, for Selected "
                    f"Stories {k}"),
                1: (f"Jean Tremblay{k} (Montréal, QC) for the National "
                    f"Gallery design {k}"),
                2: f"Emily Carr{k} - Painting",
                3: f"Special Prize: Toronto Symphony Orchestra {k}",
                4: f"Dr. Samuel Osei{k}, Neuroscience",
                5: "Ontario",
                6: "No award given this year",
            }[(k // 2) % 7]
            entry = _cc_clean(entry)
            if not entry or _CC_BAD.search(entry):
                continue
            name, category, work = _cc_extract(entry)
            if (not name or len(name) < 2 or len(name) > 120
                    or _CC_BAD.search(name)):
                continue
            given, family = _cc_split_name(name)
            org = bool(_CC_ORG.search(name)) or (given is None
                                                 and family is None)
            row = ("canada_council_pdf", slug_p, name_p, year, category,
                   None, name, given, family, org, work, None, entry)
        else:  # GGBooks arm
            if k % 8 == 7:
                continue  # not a winner
            key = ["fiction", "poetry", "drama",
                   "childrensLiteratureIllustration", "essay"][k % 5]
            lang = "en" if (k % 4 == 1) else "fr"
            author = {
                0: f"Margaret Atwood{k} (Toronto)",
                1: f"John Doe{k}, Jane Roe{k}",
                2: f"Anansi Press Collective {k}",
                3: f"Gabrielle Roy{k}",
            }[(k // 2) % 4]
            norm = _cc_clean(re.sub(r"\s*\([^)]*\)\s*$", "",
                                    _cc_clean(author)))
            names = [_cc_clean(p) for p in re.split(r"\s*,\s+", norm or "")
                     if _cc_clean(p)] or [norm]
            for nm in names:
                given, family = _cc_split_name(nm)
                row = ("ggbooks_json", "governor-generals-literary-awards",
                       "Governor General’s Literary Awards", year,
                       _CC_GG_LABELS.get(key, key), lang, nm, given, family,
                       bool(_CC_ORG.search(nm or "")), f"Book Title {k}",
                       f"Publisher {k % 19}", author)
                fid = ":".join([
                    "canada-council", row[1], str(year),
                    _cc_slug(row[4] or lang or "general"), _cc_slug(nm),
                    _cc_slug(row[10] or "no-work")])
                expected[fid] = row
            continue
        fid = ":".join([
            "canada-council", row[1], str(year),
            _cc_slug(row[4] or "general"), _cc_slug(row[6]),
            _cc_slug(row[10] or "no-work")])
        expected[fid] = row

    actual = _run(spark, sf_dir, "canada_council_prizes_parse")
    assert len(actual) == len(expected)
    for r in actual:
        exp = expected[r.funder_award_id]
        got = (r.source_type, r.prize_slug, r.prize_name, r.year, r.category,
               r.language, r.laureate_name, r.laureate_given_name,
               r.laureate_family_name, r.is_organization_like, r.work_title,
               r.publisher, r.raw_entry_text)
        assert got == exp, f"{r.funder_award_id}: {got} != {exp}"
        assert r.currency == "CAD"


# ---------------------------------------------------------------------------
# ISCIII Portal FIS projects (scripts/local/isciii_to_s3.py)
# ---------------------------------------------------------------------------

def _isciii_amount(raw):  # parse_project_html amount arm, :459-487
    if raw is None:
        return None
    ac = re.sub(r"[^\d.,]", "", raw)
    if "," in ac and "." in ac:
        ac = ac.replace(".", "").replace(",", ".")
    elif "," in ac:
        parts = ac.split(",")
        if len(parts) == 2 and len(parts[1]) == 3 and parts[1].isdigit():
            ac = ac.replace(",", "")
        else:
            ac = ac.replace(",", ".")
    elif ac.count(".") > 1:
        ac = ac.replace(".", "")
    try:
        return float(ac)
    except ValueError:
        return None


def test_isciii_matches_reference_semantics(spark, sf_dir, orders_rows):
    from datetime import datetime

    expected = {}
    for k, *_ in orders_rows:
        pid = {0: f"PI{k % 23:02d}/{k % 100000:05d}",
               1: f"FI{k % 23:02d}/{k % 100000:05d}",
               2: f"CP{k % 23:02d}/{k % 100000:05d}",
               3: f"DTS{k % 23:02d}/{k % 100000:05d}",
               4: f"RD{k % 23:02d}/{k % 100000:05d}",
               5: f"COV20{k % 100000:05d}"}[k % 6]
        pi = {0: "GARCIA LOPEZ, MARIA JOSE", 1: "Antonio Fernandez Ruiz",
              2: "SOLENO"}.get(k % 4)
        period = {0: f"01/01/{k % 20 + 2005}  - 31/12/{k % 20 + 2008}",
                  1: f"15/07/{k % 20 + 2005} - 99/99/{k % 20 + 2008}",
                  }.get(k % 3, "pendiente de resolución")
        amt_raw = {0: f"{k % 300 + 1},{k % 1000:03d} €",
                   1: f"1.{k % 1000:03d},{k % 100:02d} euros",
                   2: f"1.{k % 1000:03d}.{k % 999:03d} EUR",
                   3: f"{k % 900 + 100},{k % 100:02d}€"}.get(k % 5)

        start = end = None
        m = re.search(r"(\d{2}/\d{2}/\d{4})\s*-\s*(\d{2}/\d{2}/\d{4})",
                      period)
        if m:
            for idx, grp in ((0, 1), (1, 2)):
                try:
                    iso = datetime.strptime(
                        m.group(grp), "%d/%m/%Y").strftime("%Y-%m-%d")
                except ValueError:
                    iso = None
                if idx == 0:
                    start = iso
                else:
                    end = iso
        if pi is None:
            given = family = None
        elif "," in pi:
            a, b = pi.split(",", 1)
            family, given = a.strip().title(), (b.strip().title() or None)
        else:
            parts = pi.split()
            if len(parts) >= 2:
                given = parts[0].title()
                family = " ".join(parts[1:]).title()
            else:
                given, family = None, pi.title()
        amount = _isciii_amount(amt_raw)
        prefix = (pid.split("/")[0] if "/" in pid else pid[:2]).upper()
        ftype = {"FI": "fellowship", "RD": "fellowship", "CP": "training",
                 "DTS": "infrastructure"}.get(prefix, "research")
        expected[pid] = (
            f"Proyecto de salud {k}",
            f"Resumen del proyecto {k}" if k % 4 != 0 else None,
            given, family, f"Hospital Universitario {k % 120}",
            start, end, amount, "EUR" if amount is not None else None,
            f"salud; investigación {k % 11}",
            "Proyectos de Investigación en Salud" if k % 2 == 0 else None,
            ftype,
            f"https://portalfis.isciii.es/es/proyecto?idProyecto={pid}")

    actual = _run(spark, sf_dir, "isciii_parse_awards")
    assert len(actual) == len(expected)
    for r in actual:
        exp = expected[r.project_id]
        got = (r.title, r.abstract, r.pi_given_name, r.pi_family_name,
               r.institution, r.start_date, r.end_date, r.amount, r.currency,
               r.keywords, r.funder_scheme, r.funding_type,
               r.landing_page_url)
        assert got == exp, f"{r.project_id}: {got} != {exp}"


# ---------------------------------------------------------------------------
# SSHRC open-data awards (scripts/local/sshrc_to_s3.py:404-620)
# ---------------------------------------------------------------------------

def test_sshrc_matches_reference_semantics(spark, sf_dir, orders_rows):
    """Re-runs process_data's payment rollup in Python: amount strip +
    coerce (all-NaN group sums to 0, pandas), metadata 'first' after
    the stable fiscal-year DESC sort, fiscal-year min/max, coerced
    start_year, and the kept NaN file_number group."""
    groups: dict = {}
    for k, *_ in sorted(orders_rows):
        fn = None if k % 29 == 0 else f"435-{k % 800}"
        fy = k % 12 + 2012
        amt_raw = {0: f"${k % 90 + 10},{k % 1000:03d}",
                   1: f"{k % 50000}.50", 2: "N/A", 3: ""}.get(
                       k % 5, str(k % 90000))
        try:
            amount = float(amt_raw.replace(",", "").replace("$", "").strip())
        except ValueError:
            amount = None
        row = {
            "seq": k, "fy": fy, "amount": amount,
            "title": f"Project {k % 800} y{fy}",
            "applicant": f"Applicant {k % 800}",
            "institution": f"University {k % 60}",
            "program": ["Insight Grants", "Partnership Grants",
                        "Doctoral Fellowships"][k % 3],
            "keywords": f"keyword{k % 17}",
            "area": f"Area {k % 9}",
            "comp_year": "TBD" if k % 7 == 0 else str(k % 12 + 2011),
            "province": ["ON", "QC", "BC", "NS"][k % 4],
        }
        groups.setdefault(fn, []).append(row)

    expected = {}
    for fn, rows in groups.items():
        rows_sorted = sorted(rows, key=lambda r: (-r["fy"], r["seq"]))
        first = rows_sorted[0]
        total = sum(r["amount"] for r in rows if r["amount"] is not None)
        try:
            sy = int(first["comp_year"])
        except ValueError:
            sy = None
        expected[fn] = (
            first["title"], first["applicant"], first["institution"],
            first["program"], total, first["keywords"], "Sociology",
            first["area"], first["comp_year"], first["province"], sy,
            min(r["fy"] for r in rows), max(r["fy"] for r in rows))

    actual = _run(spark, sf_dir, "sshrc_parse_awards")
    assert len(actual) == len(expected)
    for r in actual:
        exp = expected[r.file_number]
        got = (r.title, r.applicant_name, r.institution, r.program,
               r.amount, r.keywords, r.discipline, r.area_of_research,
               r.competition_year, r.province, r.start_year,
               r.start_fiscal_year, r.latest_fiscal_year)
        assert got == exp, f"{r.file_number}: {got} != {exp}"


# ---------------------------------------------------------------------------
# RGC Hong Kong project enquiry (scripts/local/rgc_hk_to_s3.py:137-478)
# ---------------------------------------------------------------------------

_RGC_HON = re.compile(r"^(Prof(?:essor)?|Dr|Mr|Mrs|Ms|Miss|Ir)\.?\s+", re.I)


def _rgc_clean(v):  # clean_text, rgc_hk_to_s3.py:137-146
    if v is None:
        return None
    t = str(v).replace("﻿", "").replace("\xa0", " ")
    t = t.replace("\r\n", "\n").replace("\r", "\n")
    t = re.sub(r"[ \t]+", " ", t)
    t = re.sub(r"\n{3,}", "\n\n", t)
    return t.strip() or None


def _rgc_compact(v):  # compact_text, :148-152
    t = _rgc_clean(v)
    return re.sub(r"\s+", " ", t).strip() or None if t else None


def _rgc_amount(v):  # amount_to_string, :155-168
    from decimal import Decimal, InvalidOperation

    t = _rgc_compact(v)
    if t is None:
        return None
    t = t.replace(",", "").replace("HK$", "").replace("$", "").strip()
    try:
        a = Decimal(t)
    except (InvalidOperation, ValueError):
        return None
    if a <= 0:
        return None
    n = a.normalize()
    if n == n.to_integral():
        return str(n.quantize(Decimal("1")))
    return format(n, "f")


def _rgc_split_person(raw):  # split_person_name, :203-219
    t = _rgc_compact(raw)
    if t is None:
        return None, None
    t = _RGC_HON.sub("", t).strip()
    if "," in t:
        family, given = [p.strip() for p in t.split(",", 1)]
        return given or None, family or None
    suff = {"Jr", "Jr.", "Sr", "Sr.", "II", "III", "IV"}
    toks = [tok.strip(",") for tok in t.split() if tok.strip(",")]
    while toks and toks[-1] in suff:
        toks.pop()
    if not toks:
        return None, None
    if len(toks) == 1:
        return None, toks[0]
    return " ".join(toks[:-1]), toks[-1]


def _rgc_people(v):  # split_people, :222-231
    t = _rgc_clean(v)
    if t is None:
        return []
    parts = []
    for line in re.split(r"\n+|;\s*", t):
        item = _rgc_compact(line)
        if item and item not in parts:
            parts.append(item)
    return parts


def test_rgc_hk_matches_reference_semantics(spark, sf_dir, orders_rows):
    import json as _json

    expected = {}
    for k, *_ in orders_rows:
        pn = f"{k % 8 + 11}{k % 100000:05d}" + ["16", "21E", "22M"][k % 3]
        pi = {0: "Prof. CHAN Tai-man", 1: "Dr Wong, Ka Ming",
              2: "LEE Siu Ming Jr.", 3: "Ir CHEUNG Kwok",
              4: "Einstein"}.get(k % 6)
        co_raw = {0: f"Dr A Chan{k % 53}\nProf B Lee; Dr A Chan{k % 53}",
                  1: "Ms C Ng"}.get(k % 3)
        scheme = ["General Research Fund", "Early Career Scheme",
                  "RGC Postdoctoral Fellowship Scheme",
                  "Theme-based Research Scheme"][k % 4]
        amt_raw = {0: f"HK${k % 900 + 100},{k % 1000:03d}",
                   1: f"{k % 900 + 100},{k % 1000:03d}.50",
                   2: "0", 3: "N/A"}.get(k % 5)
        completion_raw = ("to be advised" if k % 9 == 0 else
                          f"Completed on {k % 28 + 1}-{k % 12 + 1}-"
                          f"{k % 25 + 2001}")
        exercise = ("TBD" if k % 9 == 0
                    else f"{k % 25 + 2000} / {k % 25 + 2001}")

        m = re.search(r"\b(\d{1,2})-(\d{1,2})-(\d{4})\b",
                      _rgc_compact(completion_raw) or "")
        completion = (f"{int(m.group(3)):04d}-{int(m.group(2)):02d}-"
                      f"{int(m.group(1)):02d}") if m else None
        ym = re.search(r"\b(20\d{2}|19\d{2})\b", _rgc_compact(exercise) or "")
        start_year = ym.group(1) if ym else None
        amount = _rgc_amount(amt_raw)
        given, family = _rgc_split_person(pi)
        people = _rgc_people(co_raw)
        structs = [{"raw_name": n, "given_name": _rgc_split_person(n)[0],
                    "family_name": _rgc_split_person(n)[1]} for n in people]
        abstract = _rgc_clean(f"First paragraph of abstract {k}."
                              "\n\n\n\nSecond\tparagraph  here.")
        expected[pn] = (
            "HKUST" + str(k % 1000) if k % 11 == 0 else None,
            scheme,
            "fellowship" if "fellowship" in scheme.lower() else "research",
            f"Study of topic {k}", f"chinese title {k}", abstract,
            pi, given, family,
            f"Department of Unit {k % 40}", f"University {k % 9}",
            _json.dumps(people, ensure_ascii=False) if people else None,
            (_json.dumps(structs, ensure_ascii=False, sort_keys=True)
             if structs else None),
            "Biology and Medicine", f"Subject {k % 23}",
            _rgc_compact(exercise), amount,
            "HKD" if amount else None,
            "Completed" if k % 2 == 0 else "On-going",
            completion, start_year,
            completion[:4] if completion else None,
            "Available" if k % 2 == 0 else None,
        )

    actual = _run(spark, sf_dir, "rgc_hk_parse_awards")
    assert len(actual) == len(expected)
    for r in actual:
        exp = expected[r.funder_award_id]
        got = (r.old_project_id, r.funding_scheme, r.funding_type_hint,
               r.title, r.title_chinese, r.description,
               r.principal_investigator, r.pi_given_name, r.pi_family_name,
               r.department, r.institution, r.co_investigators_json,
               r.co_investigators_struct_json, r.panel, r.subject_area,
               r.exercise_year, r.amount, r.currency, r.project_status,
               r.completion_date, r.start_year, r.end_year,
               r.layman_summary_status)
        assert got == exp, f"{r.funder_award_id}: {got} != {exp}"
        assert r.funder_id == "4320321592"
        assert r.source_url.endswith(f"theSubmit={r.funder_award_id}")


# ---------------------------------------------------------------------------
# Blue Planet Prize (scripts/local/blue_planet_prize_to_s3.py:357-637)
# ---------------------------------------------------------------------------

_BP_HON = re.compile(r"^(?:Dr\.|Prof\.|Professor|Mr\.|Ms\.|Mrs\.|Sir)\s+",
                     re.I)
_BP_PAREN = re.compile(r"\(([^()]+)\)")
_BP_FOUND_P = re.compile(r"^(?:Founded|Established)\s+(?:in|on)\b", re.I)
_BP_ACR = re.compile(r"^[A-Z][A-Z0-9]{1,5}$")
_BP_BORN = re.compile(
    r"Born\s+(?:in|on)\s+(?:[A-Z][a-z]+\s+\d{1,2},\s+)?(\d{4})", re.I)
_BP_LIFE = re.compile(r"\b(\d{4})\s*[–\-—~]\s*(\d{4})\b")
_BP_FOUNDED = re.compile(
    r"(?:Founded|Established)\s+(?:in|on)\s+(?:[A-Z][a-z]+\s+\d{1,2},\s+)?"
    r"(\d{4})", re.I)
_BP_KW = (r"Pioneering|Groundbreaking|Outstanding|"
          r"His\s+(?:research|work|contributions?)|"
          r"Her\s+(?:research|work|contributions?)|"
          r"Their\s+(?:research|work|contributions?)|"
          r"In a groundbreaking|Over\s+(?:more\s+than\s+)?\d+\s+years|"
          r"In \d{4}\b")
_BP_INST = (r"Foundation|Institute|University|Laboratory|Center|Centre|"
            r"Agency|Society|Department|Service")


def _bp_split_name(full):  # split_name, :511-530
    if not full:
        return None, None
    name = full.strip().replace(";", ",").split(",")[0].strip()
    toks = name.split()
    suff = {"PhD", "Ph.D", "MD", "M.D", "DPhil", "ScD", "Jr", "Sr", "II",
            "III", "IV"}
    while toks and toks[-1].rstrip(".") in suff:
        toks.pop()
    if not toks:
        return None, None
    if len(toks) == 1:
        return None, toks[0]
    return " ".join(toks[:-1]), toks[-1]


def _bp_section(raw_heading, body_text):  # parse_section, :357-505
    country = None
    founding_paren = None
    name_no_paren = raw_heading
    heading_is_person = bool(_BP_HON.match(raw_heading))
    for p in reversed(list(_BP_PAREN.finditer(raw_heading))):
        inner = p.group(1).strip()
        if _BP_FOUND_P.match(inner):
            founding_paren = inner
            name_no_paren = (name_no_paren[:p.start()]
                             + name_no_paren[p.end():]).strip()
        elif country is None and p.end() == len(raw_heading):
            if heading_is_person or not _BP_ACR.match(inner):
                country = inner
                name_no_paren = (name_no_paren[:p.start()]
                                 + name_no_paren[p.end():]).strip()
    name_clean = _BP_HON.sub("", re.sub(r"\s+", " ", name_no_paren).strip()
                             ).strip()

    born = _BP_BORN.search(body_text)
    life = _BP_LIFE.search(body_text)
    found = _BP_FOUNDED.search(body_text)
    death = None
    if born:
        kind, birth, founding, end = "individual", int(born.group(1)), None, \
            born.end()
    elif life:
        kind, birth, founding, end = "individual", int(life.group(1)), None, \
            life.end()
        death = int(life.group(2))
    elif found or founding_paren:
        kind, birth = "organization", None
        if found:
            founding, end = int(found.group(1)), found.end()
        else:
            y = re.search(r"\b(1[89]\d\d|20[0-2]\d)\b", founding_paren or "")
            founding, end = (int(y.group(1)) if y else None), 0
    else:
        kind, birth, founding, end = "unknown", None, None, 0

    affil = contribution = None
    if end:
        post = body_text[end:].strip(" .,;:")
        am = re.match(rf"(.{{5,300}}?)(?=\s+(?:{_BP_KW}))", post)
        if am:
            affil = am.group(1).strip(" .,;:")
            contribution = post[am.end():].strip(" .,;:")
        else:
            am2 = re.match(
                rf"(.{{5,300}}?\b(?:{_BP_INST})\b[^.]*?)(?=\s+[A-Z])", post)
            if am2:
                affil = am2.group(1).strip(" .,;:")
                contribution = post[am2.end():].strip(" .,;:")
            else:
                affil = post[:150].strip(" .,;:") if len(post) > 30 else None
                contribution = (post[150:].strip(" .,;:")
                                if len(post) > 150 else None)
    if not contribution:
        contribution = body_text[end:].strip(" .,;:") or None
    return (name_clean, country, founding_paren, kind, birth, death,
            founding, affil, contribution)


def test_blue_planet_matches_reference_semantics(spark, sf_dir, orders_rows):
    expected = {}
    for k, *_ in orders_rows:
        year = k % 34 + 1992
        heading = {
            0: f"Dr. Syukuro Manabe{k} (USA)",
            1: f"Professor Robert Costanza{k} (USA & Australia)",
            2: f"International Institute{k} (IIED) (Founded in the UK)",
            3: f"Conservation International{k} (Indonesia)",
            4: f"Intergovernmental Science Platform{k} (IPBES)",
            5: f"Sir David Attenborough{k}",
        }[k % 6]
        body = {
            0: (f"Born in {k % 40 + 1930} Senior Meteorologist at the "
                "Geophysical Fluid Dynamics Laboratory of NOAA Pioneering "
                f"work on climate modelling {k}"),
            1: (f"{k % 40 + 1920}–{k % 30 + 1990} Professor Emeritus at "
                f"Kyoto University His research on ecosystems {k}"),
            2: (f"Founded in {k % 60 + 1950} the Global Footprint Network "
                "Institute based in Oakland United Nations partner "
                f"programs {k}"),
            3: (f"Established on March 5, {k % 40 + 1980} International "
                f"Union branch offices worldwide coordination hub {k}"),
            4: ("A distinguished career in marine conservation spanning "
                f"decades of fieldwork {k}"),
        }[k % 5]
        if k % 7 == 0:  # card-fallback arm (:317-356)
            anchor = f"card-0{k % 2 + 1}"
            name_clean = _BP_HON.sub("", heading).strip()
            row = (heading, name_clean, "Japan", "individual", None, None,
                   None, None, None)
        else:
            anchor = f"text-0{k % 2 + 1}"
            (name_clean, country, _fp, kind, birth, death, founding, affil,
             contribution) = _bp_section(heading, body)
            row = (heading, name_clean, country, kind, birth, death,
                   founding, affil, contribution)

        (heading_out, name_clean, country, kind, birth, death, founding,
         affil, contribution) = row
        if kind == "individual":
            given, family = _bp_split_name(name_clean)
            affil_name = affil
        elif kind == "organization":
            given, family = None, None
            affil_name = name_clean
        else:
            given, family = _bp_split_name(name_clean)
            affil_name = affil
        desc_parts = ([contribution] if contribution else []) + (
            [f"Origin: {country}"] if country else [])
        slug = re.sub(r"[^a-z0-9]+", "-",
                      name_clean.lower()).strip("-")[:60]
        fid = f"blue-planet-{year}-{anchor}-{slug}"
        expected[fid] = (
            year, anchor, name_clean, heading_out, given, family, country,
            kind, birth, founding, affil_name,
            f"Blue Planet Prize {year} — {name_clean}",
            ". ".join(desc_parts) if desc_parts else None,
            500000.0, "USD", f"{year}-01-01", f"{year}-12-31")

    actual = _run(spark, sf_dir, "blue_planet_parse_awards")
    assert len(actual) == len(expected)
    for r in actual:
        exp = expected[r.funder_award_id]
        got = (r.year, r.anchor, r.name_clean, r.raw_heading, r.given_name,
               r.family_name, r.country, r.recipient_kind, r.birth_year,
               r.founding_year, r.affiliation_name, r.display_name,
               r.description, r.amount, r.currency, r.start_date, r.end_date)
        assert got == exp, f"{r.funder_award_id}:\n  {got}\n  != {exp}"
        assert r.declined is False


# ---------------------------------------------------------------------------
# Sloan Foundation grants database (scripts/local/sloan_to_s3.py:402-560)
# ---------------------------------------------------------------------------

_SLOAN_PREF = {"dr", "prof", "professor", "mr", "ms", "mrs"}
_SLOAN_SUFF = {"phd", "ph.d", "md", "m.d", "sc.d", "d.o", "dphil", "jr",
               "sr", "ii", "iii", "iv", "mph", "msc", "mba"}


def _sloan_split(full):  # split_name, sloan_to_s3.py:402-417
    if not full:
        return None, None
    toks = full.split()
    while toks and toks[0].lower().rstrip(".") in _SLOAN_PREF:
        toks.pop(0)
    while toks and toks[-1].lower().rstrip(".,") in _SLOAN_SUFF:
        toks.pop()
    if not toks:
        return None, None
    if len(toks) == 1:
        return None, toks[0]
    return " ".join(toks[:-1]), toks[-1]


def test_sloan_matches_reference_semantics(spark, sf_dir, orders_rows):
    from openalex_walden_spark.queries.sloanparse import (
        COUNTRY_NAME_TO_CODE, US_STATE_CODES)

    cmap = dict(COUNTRY_NAME_TO_CODE)
    expected = {}
    for k, *_ in sorted(orders_rows):
        permalink = {
            0: None,
            1: f"/grant-detail/g-b{k % 12 + 2010}-{k % 700}",
            2: "/grant-detail/g-books",
        }.get(k % 11, f"/grant-detail/g-{k % 18 + 2008}-{k % 700}"
              + ("-econ" if k % 4 == 0 else ""))
        m = re.search(r"/grant-detail/([^/?#\s]+)", permalink or "")
        fid = m.group(1) if m else None
        if not fid or fid in expected:
            continue
        year_field = {0: str(k % 18 + 2008), 1: "FY 2020"}.get(k % 3, "")
        if re.fullmatch(r"(?:19|20)\d{2}", year_field):
            year = int(year_field)
        else:
            ym = re.search(r"(?:19|20)\d{2}", fid)
            year = int(ym.group(0)) if ym else None
        grantee = (None if k % 13 == 0
                   else f"Grantee Organization {k % 120}")
        investigator = {0: f"Dr. Jordan Blashek{k % 89}",
                        1: f"Maria del Carmen Lopez{k % 89} PhD",
                        2: f"Wei{k % 89}"}.get(k % 5)
        amt_raw = {0: f"${k % 900 + 100},{k % 1000:03d}", 1: "pending",
                   2: "$0"}.get(k % 4, f"${k % 90000 + 1}")
        am = re.search(r"-?\$?\s*([\d,]+)", amt_raw or "")
        amount = None
        if am:
            v = int(am.group(1).replace(",", ""))
            amount = v if v > 0 else None
        city_raw = {0: "Arlington, VA", 1: "London, United Kingdom",
                    2: f"Cambridge, Region {k % 7}", 3: "Brooklyn"}.get(k % 5)
        if not city_raw:
            city = region = None
        else:
            parts = [p.strip() for p in city_raw.split(",")]
            if len(parts) == 1:
                city, region = parts[0] or None, None
            else:
                city = ", ".join(parts[:-1]).strip() or None
                region = parts[-1].strip() or None
        country = None
        if region:
            country = ("US" if region.strip().upper() in set(US_STATE_CODES)
                       else cmap.get(region.strip().lower()))
        given, family = _sloan_split(investigator)
        expected[fid] = (
            year, grantee, investigator or grantee, investigator, given,
            family, amount, "USD" if amount is not None else None,
            city, region, country,
            ["Research", "Higher Education", "Technology",
             "Public Understanding of Science and Technology"][k % 4],
            f"Sub {k % 6}" if k % 3 == 0 else None,
            "Matter-to-Life" if k % 6 == 0 else None,
            f"To support project {k}",
            f"https://sloan.org{permalink}")

    actual = _run(spark, sf_dir, "sloan_parse_grants")
    assert len(actual) == len(expected)
    for r in actual:
        exp = expected[r.funder_award_id]
        got = (r.year, r.grantee_org, r.lead_name, r.investigator,
               r.given_name, r.family_name, r.amount, r.currency, r.city,
               r.region, r.country, r.program, r.sub_program, r.initiative,
               r.description, r.permalink_url)
        assert got == exp, f"{r.funder_award_id}: {got} != {exp}"


# ---------------------------------------------------------------------------
# Dreyfus Foundation awardees (scripts/local/dreyfus_to_s3.py:446-530)
# ---------------------------------------------------------------------------

def _dreyfus_split(full):  # split_name, :452-460 (case-sensitive sets)
    pref = {"Dr", "Prof", "Professor"}
    suff = {"PhD", "Ph.D", "MD", "M.D", "DPhil", "Jr", "Sr", "II", "III",
            "IV", "MPH", "MSc"}
    toks = full.split()
    while toks and toks[0].rstrip(".") in pref:
        toks.pop(0)
    while toks and toks[-1].rstrip(".,") in suff:
        toks.pop()
    if not toks:
        return ("", "")
    if len(toks) == 1:
        return ("", toks[0])
    return (" ".join(toks[:-1]), toks[-1])


def test_dreyfus_matches_reference_semantics(spark, sf_dir, orders_rows):
    from openalex_walden_spark.queries.dreyfusparse import PROGRAMS

    pmap = {s: (lbl, ft, amt, cur) for s, lbl, ft, amt, cur in PROGRAMS}
    expected = {}
    for k, *_ in sorted(orders_rows):
        scheme = ["camille_dreyfus_teacher_scholar",
                  "henry_dreyfus_teacher_scholar",
                  "supplemental_grants_teacher_scholar",
                  "machine_learning_chemical_sciences"][k % 4]
        year = k % 15 + 2011
        name = {0: f"Dr. Emily R. Chen{k % 211}",
                1: f"Professor Luis Alvarez{k % 211} Ph.D.",
                2: f"Priya Natarajan{k % 211} MSc",
                3: f"Wang{k % 211}",
                }.get(k % 5, f"Sofia Petrova{k % 211}, Jr.")
        slug = re.sub(r"[^a-z0-9]+", "-", name.lower()).strip("-")
        fid = f"dreyfus-{scheme}-{year}-{slug}"
        if fid in expected:
            continue  # keep-first dedup (:482-490)
        given, family = _dreyfus_split(name)
        lbl, ft, amt, cur = pmap[scheme]
        expected[fid] = (
            slug, scheme, lbl, ft, year, name, given or None,
            family or None, f"College of Chemistry {k % 70}",
            f"Catalytic mechanisms study {k}" if k % 3 != 0 else None,
            f"https://www.dreyfus.org/awardee-{k}" if k % 2 == 0 else None,
            amt, cur, f"https://www.dreyfus.org/{year}-awards")

    actual = _run(spark, sf_dir, "dreyfus_parse_awards")
    assert len(actual) == len(expected)
    for r in actual:
        exp = expected[r.funder_award_id]
        got = (r.slug, r.scheme, r.scheme_label, r.funding_type, r.year,
               r.name, r.given_name, r.family_name, r.institution,
               r.research_title, r.profile_url, r.amount, r.currency,
               r.landing_page_url)
        assert got == exp, f"{r.funder_award_id}: {got} != {exp}"


# ---------------------------------------------------------------------------
# Searle Scholars (scripts/local/searle_scholars_to_s3.py:446-519)
# ---------------------------------------------------------------------------

def test_searle_matches_reference_semantics(spark, sf_dir, orders_rows):
    expected = {}
    for k, *_ in sorted(orders_rows):
        name = (None if k % 17 == 0 else
                {0: f"Dr. Nina Okafor{k % 257}",
                 1: f"Tomas Lindgren{k % 257} Ph.D.",
                 2: f"Ada{k % 257}",
                 3: f"Prof. Ravi Shankar{k % 257} MD"}[k % 4])
        year = None if k % 19 == 0 else k % 12 + 2014
        if not name or not year:
            continue
        slug = re.sub(r"[^a-z0-9]+", "-", name.lower()).strip("-")
        fid = f"searle-{year}-{slug}"
        if fid in expected:
            continue  # roster/announcement overlap keep-first (:481-484)
        given, family = _dreyfus_split(name)  # same idiom (:446-460)
        expected[fid] = (
            slug, year, name, given or None, family or None,
            f"Institute {k % 80}",
            f"Mechanisms of immune signalling {k}" if k % 3 != 0 else None,
            f"https://searlescholars.org/scholar-{k}" if k % 2 == 0 else None,
            300000.0, "USD", 3,
            ("https://searlescholars.org/current-scholars/" if k % 5 == 0
             else f"https://searlescholars.org/class-of-{year}/"))

    actual = _run(spark, sf_dir, "searle_parse_scholars")
    assert len(actual) == len(expected)
    for r in actual:
        exp = expected[r.funder_award_id]
        got = (r.slug, r.year, r.name, r.given_name, r.family_name,
               r.institution, r.research_title, r.profile_url, r.amount,
               r.currency, r.duration_years, r.landing_page_url)
        assert got == exp, f"{r.funder_award_id}: {got} != {exp}"


# ---------------------------------------------------------------------------
# 360Giving simple column-map family (scripts/local/{garfield_weston,
# lloyds_register,wolfson,maudsley,sir_jules_thorn,guys_st_thomas,
# vivensa}_to_s3.py)
# ---------------------------------------------------------------------------

def _g360_clean(v, extra_na=()):
    """clean_text (garfield_weston_to_s3.py:185-196)."""
    if v is None:
        return None
    s = str(v)
    if s.strip().lower() in ("", "nan", "none") + tuple(extra_na):
        return None
    s = s.replace("_x000D_", "\n")
    s = re.sub(r"[ \t]*\n[ \t]*", "\n", s)
    s = re.sub(r"\n{2,}", "\n", s)
    s = re.sub(r"[ \t]{2,}", " ", s)
    return s.strip() or None


def _g360_amount(v):
    """parse_amount (garfield_weston_to_s3.py:199-207): >0 or None."""
    if v is None:
        return None
    try:
        amt = float(str(v).replace(",", "").strip())
    except (TypeError, ValueError):
        return None
    return amt if amt > 0 else None


def _g360_iso(v):
    """iso_date via pandas coerce (garfield_weston_to_s3.py:210-221)."""
    import pandas as pd
    if v is None:
        return None
    ts = pd.to_datetime(v, errors="coerce")
    if pd.isna(ts):
        return None
    return ts.strftime("%Y-%m-%d")


def _g360_year(iso):
    return str(int(iso[:4])) if iso else None


def _g360_pint(v):
    m = re.search(r"\d+", str(v)) if v is not None else None
    return str(int(m.group(0))) if m else None


_G360_TITLE = {
    0: lambda k, salt: None,
    1: lambda k, salt: "nan",
    2: lambda k, salt: f"Capital  works_x000D__x000D_phase {k}",
}


def _g360_title(k, salt):
    fn = _G360_TITLE.get(k % 7)
    return fn(k, salt) if fn else f"Grant for {salt} project {k}"


def _g360_desc(k):
    return None if k % 5 == 0 else f"Supports  research_x000D_strand {k % 9}"


def _g360_amt_raw(k):
    return {0: None, 1: "0", 2: "250,000", 3: "12500.5", 4: "n/a",
            5: "78000"}[k % 6]


def _g360_cur_raw(k):
    return {0: None, 1: "gbp", 2: "GBP", 3: "usd"}[k % 4]


def _g360_award_raw(k):
    return {0: None, 1: "2021-05-04", 2: "2019-11-30 00:00:00",
            3: "not a date", 4: f"202{k % 4}-02-14"}[k % 5]


def _g360_pstart_raw(k):
    return {0: None, 1: "2022-01-15", 2: "bad"}[k % 3]


def _g360_pend_raw(k):
    return {0: "2024-06-30", 1: None, 2: "2025-01-01"}[k % 3]


def _g360_dur_raw(k):
    return {0: None, 1: "36 months", 2: "24", 3: "n/a"}[k % 4]


def _g360_country_raw(k):
    return {0: None, 1: "United Kingdom", 2: "Korea (Republic of)",
            3: "US", 4: "london", 5: "Scotland",
            6: "United States of America"}[k % 7]


def _g360_prog_raw(k):
    return None if k % 3 == 0 else f"Programme {k % 5}"


_WOLFSON_ISO_PY = {
    "uk": "GB", "united kingdom": "GB", "gb": "GB", "great britain": "GB",
    "england": "GB", "scotland": "GB", "wales": "GB",
    "northern ireland": "GB", "ireland": "IE", "usa": "US",
    "united states": "US",
}
_MAUDSLEY_ISO_PY = {k: v for k, v in _WOLFSON_ISO_PY.items()
                    if v == "GB"}


def _lloyds_iso_py(v):
    """country_iso (lloyds_register_to_s3.py:178-195)."""
    from openalex_walden_spark.queries.threesixty import _LLOYDS_ISO
    if v is None:
        return None
    s = str(v).strip()
    if not s or s.lower() in ("nan", "none"):
        return None
    s = re.sub(r"\(.*?\)", " ", s)
    s = s.replace(",", " ")
    s = re.sub(r"\bthe\b", " ", s, flags=re.I)
    s = re.sub(r"\s+", " ", s).strip().lower()
    if s in _LLOYDS_ISO:
        return _LLOYDS_ISO[s]
    if "korea" in s and ("republic" in s or "south" in s):
        return "KR"
    return None


def _fstr(x):
    """pandas astype('string') render of a parsed float amount."""
    return None if x is None else str(x)


def test_threesixty_simple_matches_reference_semantics(spark, sf_dir,
                                                       orders_rows):
    import pandas as pd
    keys = sorted(k for k, *_ in orders_rows)
    expected = {}

    # garfield_weston: latest Last-modified snapshot per Identifier;
    # NaT outranks dated (pandas sort_values na_position='last' +
    # keep='last'), ties keep the later workbook position
    by_id = {}
    for k in keys:
        if k % 23 == 0:
            continue
        mod_raw = {0: None, 1: "2024-01-05", 2: "2025-03-10",
                   3: "2023-07-01"}[k % 4]
        mod_ts = pd.to_datetime(mod_raw) if mod_raw else None
        by_id.setdefault(f"GW-{k % 997}", []).append((k, mod_ts))
    for ident, rows in by_id.items():
        k, _ = max(rows, key=lambda r: (r[1] is None,
                                        r[1] or pd.Timestamp.min, r[0]))
        amt = _g360_amount(_g360_amt_raw(k))
        award = _g360_iso(_g360_award_raw(k))
        expected[("garfield_weston", ident)] = {
            "title": _g360_clean(_g360_title(k, "weston")),
            "description": _g360_clean(_g360_desc(k)),
            "amount": _fstr(amt),
            "amount_raw": _g360_clean(_g360_amt_raw(k)),
            "currency": "GBP" if amt is not None else None,
            "award_date": award, "start_date": award,
            "start_year": _g360_year(award),
            "grant_programme": _g360_clean(_g360_prog_raw(k)),
            "recipient_org": f"Organisation {k % 300}",
            "recipient_charity_number": (None if k % 2 == 0
                                         else f"CHY{k % 9000}"),
            "funding_org": "Garfield Weston Foundation",
        }

    # lloyds_register: planned-start fallback + free-text country table
    for k in keys:
        amt = _g360_amount(_g360_amt_raw(k))
        award = _g360_iso(_g360_award_raw(k))
        start = _g360_iso(_g360_pstart_raw(k)) or award
        end = _g360_iso(_g360_pend_raw(k))
        expected[("lloyds_register", f"360G-LloydsRegisterFdn-{k}")] = {
            "amount": _fstr(amt),
            "currency": "GBP" if amt is not None else None,
            "award_date": award, "start_date": start, "end_date": end,
            "start_year": _g360_year(start), "end_year": _g360_year(end),
            "duration_months": _g360_pint(_g360_dur_raw(k)),
            "recipient_country": _g360_clean(_g360_country_raw(k)),
            "recipient_country_iso": _lloyds_iso_py(_g360_country_raw(k)),
            "recipient_city": _g360_clean(
                {0: None, 1: f"City {k % 50}", 2: "London"}[k % 3]),
            "funding_org": "Lloyd's Register Foundation",
        }

    # wolfson: award-date-only, small lower-lookup country map
    for k in keys:
        amt = _g360_amount(_g360_amt_raw(k))
        award = _g360_iso(_g360_award_raw(k))
        country = _g360_clean(_g360_country_raw(k))
        expected[("wolfson", f"360G-wolfson-{k}")] = {
            "amount": _fstr(amt),
            "currency": "GBP" if amt is not None else None,
            "award_date": award, "start_date": None,
            "start_year": _g360_year(award),
            "duration_months": _g360_pint(_g360_dur_raw(k)),
            "grant_programme_url": (None if k % 2 == 0 else
                                    f"https://www.wolfson.org.uk/funding/"
                                    f"{k % 5}"),
            "recipient_country_iso": (_WOLFSON_ISO_PY.get(country.lower())
                                      if country else None),
            "funding_org": "Wolfson Foundation",
        }

    # maudsley: prefixed ids, exact-duplicate skip, string duration
    for k in keys:
        j = k % 500
        if j % 23 == 0:
            continue
        ident_raw = (f"360G-MC-{j}" if j % 10 == 0 else f"MC {j}")
        rep = re.sub(r"\s+", "-", ident_raw.strip())
        fid = rep if rep.lower().startswith("360g-") else (
            f"360G-maudsley-{rep}")
        if ("maudsley", fid) in expected:
            continue
        amt = _g360_amount(_g360_amt_raw(j))
        cur = _g360_clean(_g360_cur_raw(j), ("<na>",))
        award = _g360_iso(_g360_award_raw(j))
        pstart = _g360_iso(_g360_pstart_raw(j))
        pend = _g360_iso(_g360_pend_raw(j))
        start = pstart or award
        country = _g360_clean(_g360_country_raw(j), ("<na>",))
        expected[("maudsley", fid)] = {
            "source_identifier": ident_raw,
            "title": _g360_clean(_g360_title(j, "maudsley"), ("<na>",)),
            "amount": _fstr(amt),
            "currency": (cur.upper() if amt is not None and cur else None),
            "award_date": award, "start_date": start, "end_date": pend,
            "start_year": _g360_year(start), "end_year": _g360_year(pend),
            "duration_months": _g360_clean(_g360_dur_raw(j), ("<na>",)),
            "recipient_country_iso": (_MAUDSLEY_ISO_PY.get(country.lower())
                                      if country else None),
            "funding_org": "Maudsley Charity",
        }

    # sir_jules_thorn: per-workbook source_year/url
    for k in keys:
        amt = _g360_amount(_g360_amt_raw(k))
        cur = _g360_clean(_g360_cur_raw(k))
        award = _g360_iso(_g360_award_raw(k))
        yr = "2021" if k % 2 == 0 else "2022"
        expected[("sir_jules_thorn", f"SJT-{k}")] = {
            "amount": _fstr(amt),
            "currency": (cur.upper() if amt is not None and cur else None),
            "award_date": award, "start_year": _g360_year(award),
            "recipient_street_address": (None if k % 3 == 0 else
                                         f"{k % 90 + 1} High Street"),
            "recipient_charity_number": (None if k % 2 == 0 else
                                         str(k % 120000 + 200000)),
            "source_year": yr,
            "source_workbook_url": (
                "https://julesthorntrust.org.uk/wp-content/uploads/2023/01/"
                f"{yr}-Grants.xlsx"),
            "funding_org": "Sir Jules Thorn Charitable Trust",
        }

    # guys_st_thomas: LineNo / financial reference / fixed registry id
    for k in keys:
        amt = _g360_amount(_g360_amt_raw(k))
        cur = _g360_clean(_g360_cur_raw(k))
        award = _g360_iso(_g360_award_raw(k))
        expected[("guys_st_thomas", f"GSTT-{k}")] = {
            "amount": _fstr(amt),
            "currency": (cur.upper() if amt is not None and cur else None),
            "award_date": award, "start_date": award,
            "start_year": _g360_year(award),
            "line_no": str(k % 1000),
            "financial_reference": f"FIN-{k % 800}",
            "registry_identifier": "a00P400000Lw5cqIAB",
            "funding_org": "Guy's and St Thomas' Charity",
        }

    # vivensa: NO cleaning, truncating comma-less amount, [:10] dates,
    # keep-first dedup
    seen_vv = set()
    for k in keys:
        if k % 19 == 0:
            continue
        fid = f"360G-dunhillmedical-{k % 700}"
        if fid in seen_vv:
            continue
        seen_vv.add(fid)
        amt_raw = _g360_amt_raw(k)
        try:
            amt = str(int(float(amt_raw))) if amt_raw is not None else None
        except ValueError:
            amt = None
        award_raw = {0: None, 1: "2021-05-04", 2: "2019-11-30 00:00:00",
                     3: "TBC maybe 2024", 4: f"202{k % 4}-02-14"}[k % 5]
        award = award_raw[:10] if award_raw is not None else None
        start = (_g360_pstart_raw(k) or "")[:10] or None
        if _g360_pstart_raw(k) is None:
            start = None
        end = (_g360_pend_raw(k) or "")[:10] or None
        if _g360_pend_raw(k) is None:
            end = None
        sy = (start or award)
        expected[("vivensa", fid)] = {
            "title": _g360_title(k, "vivensa"),
            "description": _g360_desc(k),
            "amount": amt,
            "currency": _g360_cur_raw(k),
            "award_date": award, "start_date": start, "end_date": end,
            "start_year": sy[:4] if sy else None,
            "grant_programme": _g360_prog_raw(k),
            "recipient_org": f"Organisation {k % 300}",
        }

    actual = _run(spark, sf_dir, "threesixty_simple_parse")
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        exp = expected[(r.member, r.funder_award_id)]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.member}/{r.funder_award_id}.{col}: {got!r} != {want!r}")


# ---------------------------------------------------------------------------
# Arcadia Fund (scripts/local/arcadia_to_s3.py:185-290)
# ---------------------------------------------------------------------------

def _arc_clean(v):
    if v is None:
        return None
    s = str(v).replace("\xa0", " ")
    s = re.sub(r"\s+", " ", s).strip()
    return s or None


def test_arcadia_matches_reference_semantics(spark, sf_dir, orders_rows):
    expected = {}
    for k, *_ in orders_rows:
        amt_raw = {0: "250,000", 1: "$12,500.50", 2: "78000.25",
                   3: "9800.0"}[k % 4]
        a = float(amt_raw.replace(",", "").replace("$", ""))
        amount = f"{a:.0f}" if a.is_integer() else f"{a:.2f}"
        year = int(float({0: "2021", 1: "2022.0", 2: "2023"}[k % 3]))
        dur_raw = {0: None, 1: "3", 2: "5.0", 3: "0"}[k % 4]
        dur = int(float(dur_raw)) if dur_raw is not None else None
        end_year = year + dur - 1 if dur and dur > 0 else year
        cur = {0: None, 1: "GBP", 2: "usd"}[k % 3]
        expected[f"ARC-{k}"] = {
            "display_name": f"Arcadia project {k}",
            "description": (None if k % 5 == 0
                            else f"Preservation of archive {k % 9}"),
            "beneficiary": f"Organisation {k % 300}",
            "grant_type": ("Grant" if k % 4 == 0 else "Research Grant"),
            "award_date": (None if k % 4 == 0 else f"1 May 202{k % 4}"),
            "amount": amount,
            "currency": cur or "USD",
            "amount_awarded_raw": amt_raw,
            "source_year": str(year),
            "duration_years": str(dur) if dur is not None else None,
            "start_date": f"{year:04d}-01-01",
            "end_date": f"{end_year:04d}-12-31",
            "landing_page_url": "https://arcadiafund.org.uk/grants-awarded",
        }
    actual = _run(spark, sf_dir, "arcadia_parse_grants")
    assert len(actual) == len(expected)
    for r in actual:
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


# ---------------------------------------------------------------------------
# Wellcome Trust (scripts/local/wellcome_to_s3.py:130-310)
# ---------------------------------------------------------------------------

def test_wellcome_matches_reference_semantics(spark, sf_dir, orders_rows):
    import pandas as pd
    expected = {}
    for k, *_ in sorted(orders_rows):
        j = k % 911
        ref = (f"{100000 + j}/" + "ABCD"[j % 4] + f"/{j % 100:02d}/Z")
        internal = (None if j % 29 == 0 else "" if j % 31 == 0
                    else f" {ref} ")
        ident360 = "360G-Wellcome-" + ref.replace("/", "_")
        grant_ref = (internal.strip() if internal and internal.strip()
                     else ident360.replace("360G-Wellcome-", "")
                     .replace("_", "/"))
        assert re.match(r"^\d{5,6}/[A-Z]/\d{2}/[A-Z]$", grant_ref)
        if grant_ref in expected:
            continue  # drop_duplicates keep-first in workbook order
        amt_raw = {0: None, 1: "250,000", 2: "12500.5", 3: "n/a",
                   4: "78000"}[k % 5]
        amount = (pd.to_numeric(amt_raw.replace(",", "").strip(),
                                errors="coerce")
                  if amt_raw is not None else None)
        if amount is not None and pd.isna(amount):
            amount = None
        adate = _g360_iso({0: None, 1: "2021-05-04",
                           2: "2019-11-30 00:00:00",
                           3: "not a date"}[k % 4])
        sdate = _g360_iso({0: None, 1: "2022-01-15", 2: "bad"}[k % 3])
        edate = _g360_iso({0: "2024-06-30", 1: None,
                           2: "2025-01-01"}[k % 3])
        expected[grant_ref] = {
            "identifier_360g": ident360,
            "title": f"Genomic study {j}",
            "description": None if k % 5 == 0 else f"Strand {k % 17}",
            "currency": None if j % 7 == 0 else "GBP",
            "amount": float(amount) if amount is not None else None,
            "award_date": adate, "start_date": sdate, "end_date": edate,
            "recipient_org_name": f"Organisation {j % 300}",
            "recipient_country": {0: None, 1: "GB", 2: "KE"}[j % 3],
            "lead_applicant_name": (None if j % 2 == 0
                                    else f"Dr Lead {j % 400}"),
            "lead_applicant_orcid": (
                f"0000-000{j % 10}-1825-009{j % 10}" if j % 6 == 0
                else None),
            "multi_location": "Y" if j % 9 == 0 else None,
        }
    actual = _run(spark, sf_dir, "wellcome_parse_grants")
    assert len(actual) == len(expected)
    for r in actual:
        exp = expected[r.grant_ref]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.grant_ref}.{col}: {got!r} != {want!r}")


# ---------------------------------------------------------------------------
# Potter Foundation dual-arm parse
# (scripts/local/potter_foundation_to_s3.py:185-483)
# ---------------------------------------------------------------------------

_POTTER_COUNTRY = {
    "austria": "AT", "burkina faso": "BF", "canada": "CA", "gb": "GB",
    "ghana": "GH", "israel": "IL", "norway": "NO", "pakistan": "PK",
    "south africa": "ZA", "swaziland": "SZ", "switzerland": "CH",
    "uk": "GB", "united kingdom": "GB", "us": "US", "usa": "US",
}


def _potter_country(v):
    t = _arc_clean(v)
    if not t:
        return None
    mapped = _POTTER_COUNTRY.get(t.lower())
    if mapped:
        return mapped
    if re.fullmatch(r"[A-Z]{2}", t):
        return t
    return None


def _potter_amount(v):
    t = _arc_clean(v)
    if not t:
        return None
    m = re.search(r"-?[0-9][0-9,]*(?:\.[0-9]+)?", t)
    if not m:
        return None
    amount = m.group(0).replace(",", "")
    return amount[:-2] if amount.endswith(".0") else amount


def _potter_date(v):
    import pandas as pd
    from datetime import date, timedelta
    t = _arc_clean(v)
    if not t:
        return None
    if re.fullmatch(r"\d+(?:\.0+)?", t):
        serial = float(t)
        if 20000 < serial < 60000:
            return (date(1899, 12, 30)
                    + timedelta(days=int(serial))).isoformat()
    dt = pd.to_datetime(t, errors="coerce")
    return None if pd.isna(dt) else dt.date().isoformat()


def _potter_slug(v, max_len):
    text = _arc_clean(v) or "unknown"
    text = re.sub(r"[^a-z0-9]+", "-", text.lower()).strip("-")
    return (text or "unknown")[:max_len].strip("-") or "unknown"


def _potter_hash(*values):
    # DEVIATION mirrored from the port: sha256 (not the reference's
    # sha1 — DuckDB oracle has no sha1); the joined inputs are checked
    # byte-for-byte against the reference's short_hash inputs
    joined = "|".join("" if v is None else str(v) for v in values)
    return hashlib.sha256(joined.encode("utf-8")).hexdigest()[:10]


def test_potter_matches_reference_semantics(spark, sf_dir, orders_rows):
    expected = {}
    for k, *_ in orders_rows:
        # workbook arm
        ident = f"360G-Potter-{k}"
        title = (None if k % 7 == 0
                 else _arc_clean(f"Scholarship  programme {k % 9}"))
        recip = _arc_clean(f"Organisation\xa0{k % 300}")
        adate_raw = {0: None, 1: "2021-05-04", 2: "44562.0",
                     3: "not a date", 4: "99999.0"}[k % 5]
        award = _potter_date(adate_raw)
        year = award[:4] if award else None
        amt = _potter_amount({0: None, 1: "£250,000", 2: "12500.5",
                              3: "tbc", 4: "9800.0", 5: "-500"}[k % 6])
        cur_raw = {0: None, 1: "GBP", 2: "usd"}[k % 3]
        if title:
            display = f"{recip}: {title}"
        elif year:
            display = f"Grant to {recip} ({year})"
        else:
            display = f"Grant to {recip}"
        cntry_raw = {0: None, 1: "United Kingdom", 2: "ZA",
                     3: "Swaziland", 4: "Somewhere"}[k % 5]
        benefc_raw = {0: None, 1: "GB", 2: "usa", 3: "xx"}[k % 4]
        expected[f"potter-{ident.lower()}"] = {
            "source_record_type": "360giving_workbook",
            "display_name": display,
            "title": title,
            "recipient_name": recip,
            "recipient_country": _potter_country(cntry_raw),
            "recipient_country_raw": cntry_raw,
            "beneficiary_country": _potter_country(benefc_raw),
            "amount": amt,
            "currency": ((cur_raw or "GBP") if amt else None),
            "award_date": award,
            "award_year": year,
            "duration_months": ("36" if k % 2 != 0 else None),
            "program_title": (None if k % 3 == 0
                              else f"Programme {k % 4}"),
            "last_modified": (None if k % 4 == 0 else "2025-01-31"),
            "source_sort_key": f"workbook-{k}",
        }
        # legacy HTML arm
        yr_h = 2005 + k % 8
        rowno = {0: "—", 1: f"{k}.0"}.get(k % 7, str(k))
        recip_h = {0: None, 1: "Total",
                   2: f"St  Mary's College {k % 200}"}.get(
                       k % 11, f"Organisation {k % 200}")
        recip_h_clean = _arc_clean(recip_h)
        if (rowno and re.search(r"\d", rowno) and recip_h_clean
                and recip_h_clean.lower() != "total"):
            amt_h = _potter_amount({0: None, 1: "£25,000", 2: "40000.0",
                                    3: "n/a"}.get(k % 5,
                                                  str(k % 90 + 10)))
            region = {0: None, 1: "UK", 2: "South Africa", 3: "London",
                      4: "US", 5: "Ghana"}[k % 6]
            cat = None if k % 3 == 0 else f"Category {k % 5}"
            h = _potter_hash(yr_h, rowno, recip_h_clean, amt_h, region, cat)
            aid = (f"potter-html-{yr_h}-{int(float(rowno)):03d}-"
                   f"{_potter_slug(recip_h_clean, 36)}-{h}")
            expected[aid] = {
                "source_record_type": "html_table",
                "display_name": f"Grant to {recip_h_clean} ({yr_h})",
                "title": None,
                "recipient_name": recip_h_clean,
                "recipient_country": _potter_country(region),
                "recipient_country_raw": region,
                "beneficiary_country": _potter_country(region),
                "amount": amt_h,
                "currency": "GBP" if amt_h else None,
                "award_date": None,
                "award_year": str(yr_h),
                "program_title": cat,
                "funding_org_name": "David and Elaine Potter Foundation",
                "source_sort_key": f"html-{k}",
            }
    actual = _run(spark, sf_dir, "potter_parse_awards")
    assert len(actual) == len(expected)
    for r in actual:
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


# ---------------------------------------------------------------------------
# Tiny-funder line-scan kit (scripts/local/{bacp,bdsra,gla,
# ons_foundation,researchnb}_to_s3.py)
# ---------------------------------------------------------------------------

def _tk_clean(v):
    if v is None:
        return None
    s = re.sub(r"\s+", " ", str(v)).strip()
    return s or None


def _tk_slug(s):
    return re.sub(r"[^a-z0-9]+", "-", (s or "").lower()).strip("-")[:90]


_TK_TITLE_RE = re.compile(r"^(Dr|Prof|Professor|Mr|Mrs|Ms|Miss)\.?\s+",
                          re.I)


def _bacp_split(raw):
    n = _TK_TITLE_RE.sub("", _tk_clean(raw) or "").strip()
    n = re.split(r",|;| and ", n)[0].strip()
    toks = n.split()
    if len(toks) < 2 or len(toks) > 4:
        return None, None
    return " ".join(toks[:-1]), toks[-1]


def _bdsra_split(raw):
    n = _TK_TITLE_RE.sub("", _tk_clean(raw) or "").strip()
    n = re.sub(r",?\s*(PhD|MD|Ph\.D|M\.D|DVM|MBBS).*$", "", n,
               flags=re.I).strip()
    toks = n.split()
    if len(toks) < 2 or len(toks) > 4:
        return None, None
    return " ".join(toks[:-1]), toks[-1]


def _gla_split(raw):
    n = _tk_clean(raw) or ""
    n = n.split(",")[0].strip()
    toks = n.split()
    if len(toks) < 2:
        return (None, toks[0]) if toks else (None, None)
    return " ".join(toks[:-1]), toks[-1]


def _ons_split(raw):
    n = _TK_TITLE_RE.sub("", _tk_clean(raw) or "").strip()
    n = n.split(",")[0].strip()
    toks = n.split()
    if len(toks) < 2 or len(toks) > 4:
        return None, None
    return " ".join(toks[:-1]), toks[-1]


def _rnb_split(raw):
    n = _TK_TITLE_RE.sub("", _tk_clean(raw) or "").strip()
    toks = n.split()
    if not toks:
        return None, None
    if len(toks) == 1:
        return None, toks[0]
    return " ".join(toks[:-1]), toks[-1]


_GLA_NAME_DEG = re.compile(
    r"^(.+?),\s*(Ph\.?D|M\.?D|D\.?Phil|DVM|Sc\.?D)", re.I)
_ONS_RECIP = re.compile(r"(20\d\d)\s+(.*?Research Grant)\s+Recipient",
                        re.I)
_ONS_NAME = re.compile(
    r"^(Dr\.?\s+)?[A-Z][A-Za-z'’\-]+\s+.*"
    r"\b(PhD|RN|MSN|BSN|DNP|MD|FAAN|MS|MPH)\b", re.I)
_RNB_ROW_PY = re.compile(
    r"^(?P<name>[^-–]{4,60})\s[-–]\s(?P<inst>.+?)\s[-–]\s"
    r"\$?(?P<amt>[\d,]+)\s*$")


def test_tinyfunder_matches_reference_semantics(spark, sf_dir,
                                                orders_rows):
    keys = sorted(k for k, *_ in orders_rows)
    expected = {}

    # ---- bacp: per-year pages sorted by URL, PI-anchored window scan
    bacp_pages = []
    for k in keys:
        year = k % 6 + 2019
        url = (f"https://www.bacp.co.uk/research-grants-{year}"
               f"?p={k:07d}")
        name = {0: f"Dr Jane Smith{k % 120}",
                1: f"Prof A B C D E{k % 120}",
                2: f"Mrs Ann Lee{k % 120} and Bob Roy",
                3: "Kwame",
                4: f"Miss Rosa Diaz-Lopez{k % 120}"}[k % 5]
        tline = {0: f"Project title: Counselling outcomes study {k}",
                 1: "Project title:",
                 2: None,
                 3: f"Project title:  Therapy  access study {k}"}[k % 4]
        lines = [x for x in [
            "Research grants awarded", tline,
            (f"Continuation title line {k}" if k % 4 == 1
             else "Funded by the BACP research programme"),
            f"Principal Investigator: {name}",
            (None if k % 3 == 0
             else f"Lead institution: University {k % 60}"),
            "Awards hub"] if x is not None]
        bacp_pages.append((url, year, lines, k))
    seen = set()
    for url, year, lines, k in sorted(bacp_pages):
        for i, line in enumerate(lines):
            m = re.match(r"Principal Investigator\s*:\s*(.+)", line, re.I)
            if not m:
                continue
            g_, f_ = _bacp_split(m.group(1))
            title = institution = None
            for j in range(max(0, i - 4), min(i + 5, len(lines))):
                if re.match(r"Project title\s*:", lines[j], re.I):
                    title = _tk_clean(re.sub(r"Project title\s*:\s*", "",
                                             lines[j], flags=re.I)) or (
                        _tk_clean(lines[j + 1])
                        if j + 1 < len(lines) else None)
                if re.match(r"Lead institution\s*:", lines[j], re.I):
                    institution = _tk_clean(
                        re.sub(r"Lead institution\s*:\s*", "", lines[j],
                               flags=re.I))
            if not f_ or not title:
                continue
            aid = f"bacp-{year}-{_tk_slug(f_)}"
            if aid in seen:
                continue
            seen.add(aid)
            expected[("bacp", aid)] = {
                "title": title, "pi_given": g_, "pi_family": f_,
                "institution": institution, "amount": None,
                "start_year": year, "landing_page_url": url,
            }

    # ---- bdsra: CHIEF-anchored scan with amount break + continuation
    bdsra_pages = []
    for k in keys:
        year = k % 5 + 2020
        url = (f"https://battenresearch.org/grant-recipients-{year}/"
               f"{k:07d}/")
        pi = {0: f"Dr Maria Gonzalez{k % 150}, PhD",
              1: f"Samuel Oduya{k % 150} MBBS and team",
              2: f"Prof Lena Vik{k % 150}",
              3: "Cure"}[k % 4]
        lines = [x for x in [
            "Funded projects announced",
            ("AFFILIATION:" if k % 13 == 0
             else f"Gene therapy project {k}"),
            "CHIEF INVESTIGATORS:", pi,
            None if k % 5 == 0 else "AFFILIATION:",
            (None if k % 5 == 0 else
             (f"Hospital for Sick Children USA {k % 40}" if k % 3 == 0
              else f"University of Batten {k % 40}")),
            (None if k % 5 == 0 or k % 7 == 0
             else f"Dept of Neurology {k % 12}"),
            {0: f"AMOUNT: USD ${k % 400 + 100},000",
             1: "AMOUNT: USD", 2: None}[k % 3],
            (f"${k % 400 + 100},500" if k % 3 == 1
             else "More announcements below")] if x is not None]
        bdsra_pages.append((url, year, lines))
    seen = set()
    for url, year, lines in sorted(bdsra_pages):
        for i, line in enumerate(lines):
            if not re.match(r"CHIEF INVESTIGATORS?:", line, re.I):
                continue
            title = lines[i - 1] if i >= 1 else None
            pi = lines[i + 1] if i + 1 < len(lines) else None
            institution = amount = None
            for j in range(i + 1, min(i + 12, len(lines))):
                if re.match(r"AFFILIATION:", lines[j], re.I):
                    institution = (_tk_clean(lines[j + 1])
                                   if j + 1 < len(lines) else None)
                    if (j + 2 < len(lines)
                            and not re.match(r"AMOUNT:", lines[j + 2],
                                             re.I)
                            and "USA" not in (institution or "") + "x"):
                        institution = _tk_clean(
                            (institution or "") + " " + lines[j + 2])
                if re.match(r"AMOUNT:", lines[j], re.I):
                    am = re.search(r"([\d,]+)", lines[j] + (
                        " " + lines[j + 1] if j + 1 < len(lines) else ""))
                    if am:
                        amount = float(am.group(1).replace(",", ""))
                    break
            g_, f_ = _bdsra_split(pi)
            if (not title or not f_
                    or re.match(r"CHIEF|AFFIL|AMOUNT", title, re.I)):
                continue
            aid = (f"bdsra-{year}-{_tk_slug(f_)}-"
                   f"{_tk_slug(title[:30])}")
            if aid in seen:
                continue
            seen.add(aid)
            expected[("bdsra", aid)] = {
                "title": _tk_clean(title), "pi_given": g_,
                "pi_family": f_, "institution": institution,
                "amount": amount, "start_year": year,
                "landing_page_url": url,
            }

    # ---- gla: degree-headed blocks, first two long following nodes
    seen = set()
    for k in keys:
        heading = _tk_clean({
            0: f"Alice Munro{k % 90}, PhD",
            1: f"Bob Ortiz{k % 90}, M.D.",
            2: "Our current grantees",
            3: f"Chen Wei{k % 90} Xu, Sc.D, Professor",
            4: f"Mononym{k % 90}, DVM"}[k % 5])
        if not heading or not _GLA_NAME_DEG.match(heading):
            continue
        g_, f_ = _gla_split(heading)
        if not f_:
            continue
        following = [x for x in [
            "Read more",
            (None if k % 7 == 0
             else f"Study {k} tick-borne persistence mechanisms"),
            f"Nested heading{k % 90}, Ph.D",
            (None if k % 3 == 0
             else f"Longitudinal immune profiling of patients {k}"),
            "Donate"] if x is not None]
        segs = []
        for nx in following[:12]:
            x = _tk_clean(nx)
            if x and not _GLA_NAME_DEG.match(x) and len(x) > 10:
                segs.append(x)
            if len(segs) >= 2:
                break
        title = segs[0] if segs else None
        desc = segs[1] if len(segs) > 1 else None
        if not title:
            continue
        aid = f"gla-{_tk_slug(f_)}-{_tk_slug(title[:30])}"
        if aid in seen:
            continue
        seen.add(aid)
        expected[("gla", aid)] = {
            "title": title, "pi_given": g_, "pi_family": f_,
            "description": desc, "amount": None, "start_year": None,
            "landing_page_url": "https://globallymealliance.org/grantees",
        }

    # ---- ons_foundation: recipient-line anchor + credentialed name
    seen = set()
    for k in keys:
        name_line = {0: f"Maria Chen{k % 110}, PhD, RN",
                     1: f"Dr. Dana Fox{k % 110} Quinn Reyes Lee, DNP",
                     2: "Congratulations to everyone",
                     3: f"Priya Natarajan{k % 110}, MSN, FAAN"}[k % 4]
        recip = (f"{k % 6 + 2019} RE0{k % 4} "
                 + ("Oncology Nursing " if k % 2 == 0 else "")
                 + "Research Grant Recipient")
        m = _ONS_RECIP.search(recip)
        assert m
        if not _ONS_NAME.match(name_line):
            continue
        g_, f_ = _ons_split(name_line)
        if not f_:
            continue
        year = int(m.group(1))
        scheme = _tk_clean(m.group(2))
        aid = f"ons-{year}-{_tk_slug(f_)}-{_tk_slug(scheme)[:20]}"
        if aid in seen:
            continue
        seen.add(aid)
        expected[("ons_foundation", aid)] = {
            "title": f"{scheme} ({year})", "pi_given": g_,
            "pi_family": f_, "funder_scheme": scheme,
            "start_year": year, "amount": None,
        }

    # ---- researchnb: ROW grammar + next-line title + url/prog year
    rnb_pages = []
    for k in keys:
        prog = (f"Awards 20{k % 4 + 20} Round" if k % 3 == 0
                else f"Health Research Fund cohort {k % 9}")
        url = ("https://researchnb.ca/award-announcement-"
               + ("spring" if k % 3 == 0 else f"20{k % 4 + 21}")
               + f"-{k:07d}/")
        name = {0: f"Dr. Jane Doe{k % 130}",
                1: f"Tremblay{k % 130}",
                2: f"Prof Luc Martin{k % 130} LeBlanc",
                3: ("A very extremely long investigator name that "
                    f"overruns the sixty character cap easily {k}"),
                4: f"Ms Amy Wu{k % 130}"}[k % 5]
        d = " - " if k % 2 == 0 else " – "
        amt_d = " - $" if k % 2 == 0 else " – "
        row = (f"{name}{d}University of New Brunswick, Fredericton"
               f"{amt_d}{k % 80 + 20},000")
        lines = [("No structured rows on this page" if k % 11 == 0
                  else row),
                 {0: f"Impact of rural telehealth delivery {k}",
                  1: "Too big",
                  2: (f"Second award row {k % 40 + 20} - Mount Allison "
                      "University - $9,000"),
                  3: f"Clinical outcomes in pediatric care {k}"}[k % 4],
                 "Back to all announcements"]
        rnb_pages.append((url, prog, lines))
    seen = set()
    for url, prog, lines in sorted(rnb_pages):
        ym = re.search(r"(20\d\d)", url + " " + (prog or ""))
        year = int(ym.group(1)) if ym else None
        for i, line in enumerate(lines):
            m = _RNB_ROW_PY.match(line)
            if not m:
                continue
            amount = None
            try:
                amount = float(m.group("amt").replace(",", ""))
            except ValueError:
                pass
            title = lines[i + 1] if i + 1 < len(lines) else None
            if title and (_RNB_ROW_PY.match(title) or len(title) < 8):
                title = None
            g_, f_ = _rnb_split(m.group("name"))
            if not f_:
                continue
            aid = (f"researchnb-{_tk_slug(m.group('name'))}-"
                   f"{_tk_slug((title or prog or '')[:30])}")
            if aid in seen:
                continue
            seen.add(aid)
            expected[("researchnb", aid)] = {
                "title": _tk_clean(title) or _tk_clean(prog),
                "pi_given": g_, "pi_family": f_,
                "institution": _tk_clean(m.group("inst")),
                "amount": amount, "start_year": year,
                "funder_scheme": prog, "landing_page_url": url,
            }

    actual = _run(spark, sf_dir, "tinyfunder_parse_awards")
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        exp = expected[(r.member, r.funder_award_id)]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.member}/{r.funder_award_id}.{col}: "
                f"{got!r} != {want!r}")


# ---------------------------------------------------------------------------
# Method-5 static-HTML family (scripts/local/{mott,helmsley,
# fritz_thyssen,mercator_fellows,novo_nordisk_fonden,rj_jubileumsfond,
# wt_grant}_to_s3.py)
# ---------------------------------------------------------------------------

_M5_SUF_A = {"phd", "md", "dphil", "dsc", "scd", "jr.", "sr.", "ii",
             "iii", "iv", "jr", "sr", "prof.", "dr.", "prof", "dr"}
_M5_SUF_B = {"phd", "md", "dphil", "dsc", "scd", "jr.", "sr.", "ii",
             "iii", "iv", "jr", "sr"}


def _m5_split_a(name):
    """fritz_thyssen_to_s3.py:136-160 (novo/rj identical)."""
    if not name:
        return None, None
    tokens = re.split(r"\s+", name.strip())
    while tokens and tokens[0].lower().strip(".,") in _M5_SUF_A:
        tokens.pop(0)
    while tokens and tokens[-1].lower().strip(".,") in _M5_SUF_A:
        tokens.pop()
    if not tokens:
        return None, None
    if len(tokens) == 1:
        return None, tokens[0]
    return " ".join(tokens[:-1]), tokens[-1]


def _m5_split_b(name):
    """mercator_fellows_to_s3.py:145-156 / wt_grant_to_s3.py:246-258."""
    if not name:
        return None, None
    tokens = name.split()
    while tokens and tokens[-1].lower().strip(",.") in _M5_SUF_B:
        tokens.pop()
    if not tokens:
        return None, None
    if len(tokens) == 1:
        return None, tokens[0]
    return " ".join(tokens[:-1]), tokens[-1]


_M5_AMT = re.compile(r"\$\s*([0-9,]+(?:\.[0-9]+)?)")
_M5_MONTHS = {m: i + 1 for i, m in enumerate(
    ["january", "february", "march", "april", "may", "june", "july",
     "august", "september", "october", "november", "december"])}


def _m5_amount(s):
    if not s:
        return None
    m = _M5_AMT.search(s)
    if not m:
        return None
    return float(m.group(1).replace(",", ""))


def _mott_period(s):
    from datetime import datetime
    if not s:
        return None, None, None
    m = re.match(r"^([A-Za-z]+ \d{1,2},?\s*\d{4})\s*[–—\-]\s*"
                 r"([A-Za-z]+ \d{1,2},?\s*\d{4})$", s.strip())
    if not m:
        try:
            d = datetime.strptime(s.strip(), "%B %d, %Y")
            return d.strftime("%Y-%m-%d"), None, d.year
        except ValueError:
            pass
        ym = re.search(r"(19\d{2}|20\d{2})", s)
        if ym:
            y = int(ym.group(1))
            return f"{y}-01-01", None, y
        return None, None, None
    out = []
    for part in (m.group(1), m.group(2)):
        got = None
        for f in ("%B %d, %Y", "%B %d %Y"):
            try:
                got = datetime.strptime(part.strip(), f)
                break
            except ValueError:
                continue
        out.append(got)
    start, end = out
    return (start.strftime("%Y-%m-%d") if start else None,
            end.strftime("%Y-%m-%d") if end else None,
            start.year if start else None)


def test_method5_matches_reference_semantics(spark, sf_dir, orders_rows):
    expected = {}
    for k, *_ in orders_rows:
        # ---- mott
        slug = f"20{k % 27:02d}-{k + 10000}"
        title = f"Bridge programme phase {k}"
        og = {0: None, 1: f"{title}, Env Watch, 2026-{k} | Mott Foundation"
              }.get(k % 9, f"Recipient Org {k % 250}, Env Watch, 2026-{k}"
                    " | Mott Foundation")
        recipient = None
        if og:
            og_t = re.sub(r"\s*\|\s*Mott Foundation\s*$", "", og)
            parts = [p.strip() for p in og_t.split(",")]
            if parts and parts[0] and parts[0] != title:
                recipient = parts[0]
        period = {0: None,
                  1: f"June 1, 202{k % 4}–May 31, 202{k % 4 + 2}",
                  2: f"June 1, 202{k % 4}",
                  3: f"FY 201{k % 9}", 4: "TBD"}[k % 5]
        start, end, _y = _mott_period(period or "")
        amt = _m5_amount({0: None, 1: f"${k % 800 + 100},000",
                          2: "$12,500.50", 3: "undisclosed"}[k % 4] or "")
        expected[("mott", f"mott-{slug}")] = {
            "title": title, "recipient": recipient,
            "amount": str(amt) if amt is not None else None,
            "currency": "USD",
            "start_date": start, "end_date": end,
            "start_year": start[:4] if start else None,
            "description": (f"Supports water infrastructure {k}"
                            if k % 2 != 0 else
                            (f"OG summary of grant {k}" if k % 3 != 0
                             else None)),
        }
        # ---- helmsley
        slug = f"org-{k % 260}-{k + 2000}"
        date_raw = {0: None,
                    1: f"0{k % 9 + 1}.3{k % 2}.201{k % 9}",
                    2: f"{k % 9 + 1}/{k % 28 + 1}/202{k % 4}",
                    3: f"around 201{k % 9}", 4: "n/a"}[k % 5]
        iso = None
        if date_raw:
            s = date_raw.strip()
            m = re.match(r"^(\d{2})\.(\d{2})\.(\d{4})$", s)
            if m:
                iso = f"{m.group(3)}-{m.group(1)}-{m.group(2)}"
            else:
                m = re.match(r"^(\d{1,2})/(\d{1,2})/(\d{4})$", s)
                if m:
                    iso = (f"{m.group(3)}-{m.group(1).zfill(2)}-"
                           f"{m.group(2).zfill(2)}")
                else:
                    m = re.search(r"(19\d{2}|20\d{2})", s)
                    if m:
                        iso = f"{m.group(1)}-01-01"
        amt = _m5_amount({0: None, 1: f"${k % 900 + 100},000.00",
                          2: "$9,761,000.00", 3: "n/a"}[k % 4] or "")
        ptitle = None if k % 7 == 0 else f"to support project {k}"
        expected[("helmsley", f"helmsley-{slug}")] = {
            "recipient": f"Organisation {k % 260}",
            "display_name": ptitle or f"Organisation {k % 260}",
            "award_date": iso,
            "award_year": iso[:4] if iso else None,
            "amount": str(amt) if amt is not None else None,
            "currency": "USD",
            "native_grant_id": str(k + 2000),
            "term": (None if k % 2 == 0 else f"{k % 48 + 6} months"),
        }
        # ---- fritz_thyssen
        slug = f"funding-{k}"
        h1 = None if k % 7 == 0 else f"Projektfoerderung {k}"
        ogt = None if k % 3 == 0 else f"OG Projekt {k}"
        title_ft = h1 or ogt
        if title_ft:
            j = k % 140
            pi = {0: f"Prof. Dr. Anna Weber{j}",
                  1: f"Dr. Hans Mueller-Ludenscheidt{j}",
                  2: f"Greta{j}", 3: f"Jonas Becker{j} PhD"}[k % 4]
            parts = ([] if k % 4 != 0 else []) + [pi] + (
                [f"Universität {k % 70}"] if k % 3 != 0 else [])
            g_, f_ = _m5_split_a(parts[0] if parts else None)
            bew = (None if k % 4 == 0 else f"Bewilligung | 20{k % 26:02d}")
            foe = (None if k % 3 == 0 else
                   f"Foerderbereich | Geschichte, Sprache & Kultur {k % 6}")
            expected[("fritz_thyssen", f"ft-{slug}")] = {
                "title": title_ft, "pi_raw": pi,
                "given_name": g_, "family_name": f_,
                "institution": parts[1] if len(parts) > 1 else None,
                "award_year": (re.search(r"(\d{4})", bew).group(1)
                               if bew else None),
                "funding_program": (foe.split("|", 1)[1].strip()
                                    if foe else None),
            }
        # ---- mercator
        slug = f"fellow-{k}"
        name = {0: f"Ada Lovelace{k % 160} PhD",
                1: f"Miriam Tal{k % 160} Jr.",
                2: f"Okonkwo{k % 160}",
                3: f"Leila Haddad{k % 160}"}[k % 4]
        g_, f_ = _m5_split_b(name)
        period = {0: None,
                  1: f"October 202{k % 4} - September 202{k % 4 + 1}",
                  2: f"January 201{k % 9} - 201{k % 9 + 1}",
                  3: f"Spring 202{k % 4}",
                  4: f"Octember 202{k % 4} - May 202{k % 4 + 1}"}[k % 5]
        start = end = sy = ey = None
        if period:
            m = re.search(r"([A-Za-z]+)\s+(\d{4})\s*[-–to]+\s*"
                          r"([A-Za-z]+)?\s*(\d{4})?", period, re.I)
            if m:
                m1 = _M5_MONTHS.get((m.group(1) or "").lower())
                y1 = int(m.group(2)) if m.group(2) else None
                m2 = (_M5_MONTHS.get((m.group(3) or "").lower())
                      if m.group(3) else None)
                y2 = int(m.group(4)) if m.group(4) else None
                if m1 and y1:
                    start = f"{y1:04d}-{m1:02d}-01"
                elif y1:
                    start = f"{y1:04d}-01-01"
                if m2 and y2:
                    end = f"{y2:04d}-{m2:02d}-01"
                elif y2:
                    end = f"{y2:04d}-12-31"
                sy, ey = y1, y2
            else:
                ym = re.search(r"\b(19\d{2}|20\d{2})\b", period)
                if ym:
                    sy = int(ym.group(1))
                    start = f"{sy}-01-01"
        ptitle = (None if k % 3 == 0
                  else f"Transnational governance study {k}")
        bio = None if k % 2 == 0 else f"Biography of fellow {k}"
        expected[("mercator_fellows", f"mercator-fellow-{slug}")] = {
            "recipient": name, "given_name": g_, "family_name": f_,
            "fellowship_program": (None if k % 5 == 0
                                   else f"Mercator Fellowship {k % 4}"),
            "period_raw": period, "start_date": start, "end_date": end,
            "start_year": str(sy) if sy else None,
            "end_year": str(ey) if ey else None,
            "project_title": ptitle, "biography": bio,
            "description": bio or ptitle,
        }
        # ---- novo
        name = ("Erik " + "ABCDEFGHIJKLMNOPQRSTUVWXYZ"[k % 26]
                + ". Richter"
                + "ABCDEFGHIJKLMNOPQRSTUVWXYZ"[(k // 26) % 26])
        cred = {0: None, 1: f"Professor of Physiology {k % 9}",
                2: "Novo Nordisk Fonden info desk",
                3: f"Head of Metabolic Research Unit number {k % 9}"
                }[k % 4]
        if cred and (len(cred) > 200 or any(
                s in cred.lower() for s in ["fonden", "footer", "info"])):
            cred = None
        slug = (f"erik-richter-{k}-20{k % 26:02d}" if k % 2 == 0
                else f"erik-richter-{k}")
        segs = [x for x in [
            name, cred,
            {0: f"Novo Nordisk Prisen - 20{k % 26:02d}",
             1: f"Marie og August Krogh Prisen 20{k % 26:02d}",
             2: f"{name} 2012", 3: "NN - 2020"}.get(k % 5)]
            if x is not None]
        prize_name = prize_year = None
        for seg in segs:
            m = re.match(r"^\s*([^\d\n]+?)\s*[-–]?\s*(\d{4})\s*$",
                         seg.strip())
            if m and len(m.group(1).strip()) > 3:
                if name.lower() in m.group(1).strip().lower():
                    continue
                prize_name = m.group(1).strip()
                prize_year = int(m.group(2))
                break
        m = re.search(r"-(\d{4})$", slug)
        slug_year = int(m.group(1)) if m else None
        g_, f_ = _m5_split_a(name)
        expected[("novo_nordisk_fonden", f"nnf-{slug}")] = {
            "recipient": name, "given_name": g_, "family_name": f_,
            "credentials": cred, "prize_name": prize_name,
            "award_year": (str(prize_year or slug_year)
                           if (prize_year or slug_year) else None),
            "name_slug": re.sub(r"-\d{4}$", "", slug),
        }
        # ---- rj
        slug = f"grant-{k}"
        url_year = k % 10 + 2015
        cand = {0: None, 1: "Final report",
                2: f"Prof. Ingrid Svensson{k % 170}",
                3: f"Dr. Olof Palme{k % 170} Berg"}[k % 4]
        pi = (cand if cand and len(cand) <= 80 and not re.match(
            r"^(Final report|Slutredovisning|Bidragsförvaltare)$", cand)
            else None)
        g_, f_ = _m5_split_a(pi)
        rn = (None if k % 3 == 0 else f"P2{k % 10}-0{k % 900 + 100}")
        amt_raw = {0: None, 1: f"SEK {k % 900 + 100},000",
                   2: f"1 {k % 900 + 100} 000 kr",
                   3: "ej angivet"}[k % 4]
        amount = None
        if amt_raw:
            m = re.search(r"([0-9][0-9,\s]*)\s*(SEK|kr)?", amt_raw, re.I)
            if m:
                try:
                    amount = float(m.group(1).replace(",", "")
                                   .replace(" ", ""))
                except ValueError:
                    amount = None
        yf = {0: None, 1: str(k % 10 + 2014), 2: "MMXXI"}[k % 3]
        award_year = (int(yf) if yf and yf.isdigit() else url_year)
        paras = [
            ("This project investigates the long-run institutional "
             "development of Scandinavian archives and their role in "
             f"public memory, case {k}"),
            "Short note",
            ("Applicants may request funds for networks; this "
             "boilerplate paragraph about how to request funds from "
             "the foundation repeats on every grant page verbatim."),
        ] + ([("A second substantive paragraph describing methods and "
               f"the archival corpus assembled for the study, variant "
               f"{k % 7}, padded to exceed the length gate easily.")]
             if k % 2 == 0 else [])
        body = [t for t in paras
                if len(t) > 100 and not any(
                    s in t.lower() for s in
                    ["request funds", "rj research initiation"])]
        desc = " ".join(body)[:5000] if body else None
        rid = (f"rj-{re.sub(r'[^a-z0-9]+', '-', rn.lower()).strip('-')}-"
               f"{slug}" if rn else f"rj-{slug}")
        expected[("rj_jubileumsfond", rid)] = {
            "title": f"Historiska studier av {k}",
            "pi_raw": pi, "given_name": g_, "family_name": f_,
            "reference_number": rn,
            "amount": str(amount) if amount is not None else None,
            "currency": "SEK" if amount is not None else None,
            "award_year": str(award_year), "description": desc,
            "subject": None if k % 2 == 0 else f"Historia {k % 5}",
        }
        # ---- wt_grant
        slug = f"grant-{k}"
        ogt = (None if k % 5 == 0 else
               f"Reducing inequality study {k}"
               " - William T. Grant Foundation")
        h1 = None if k % 7 == 0 else f"H1 fallback title {k}"
        title_wt = None
        if ogt:
            title_wt = re.sub(
                r"\s*[-–—]\s*William T\. Grant Foundation\s*$", "",
                ogt).strip() or None
        if not title_wt:
            title_wt = h1
        if title_wt:
            pi = {0: None, 1: f"Vincent Guilamo-Ramos{k % 180}",
                  2: f"Mira Chen{k % 180} PhD",
                  3: f"Kofi{k % 180}"}[k % 4]
            pi_org = (None if k % 4 == 0 or k % 5 == 0
                      else f"University {k % 75}")
            copi = (f"Dana Suskind{k % 180} MD" if k % 6 == 0 else None)
            org_only = (f"Grantee Org {k % 75}" if k % 4 == 0 else None)
            g_, f_ = (_m5_split_b(pi) if pi else (None, None))
            cg, cf = (_m5_split_b(copi) if copi else (None, None))
            amt = _m5_amount({0: None, 1: f"${k % 500 + 100},000",
                              2: "$49,982.25", 3: "n/a"}[k % 4] or "")
            period = {0: None,
                      1: (f"January 200{k % 9} – December 200{k % 9}"),
                      2: f"20{k % 26:02d}", 3: "TBD"}[k % 4]
            sy = ey = None
            if period:
                m = re.search(r"([A-Za-z]+)\s+(\d{4})\s*[–—\-]\s*"
                              r"([A-Za-z]+)\s+(\d{4})", period)
                if m:
                    sy, ey = int(m.group(2)), int(m.group(4))
                else:
                    ym = re.search(r"\b(19\d{2}|20\d{2})\b", period)
                    if ym:
                        sy = int(ym.group(1))
            expected[("wt_grant", slug)] = {
                "title": title_wt,
                "given_name": g_, "family_name": f_,
                "grantee_org": pi_org or org_only,
                "copi_given_name": cg, "copi_family_name": cf,
                "copi_org": f"Co-Org {k % 75}" if k % 6 == 0 else None,
                "amount": str(amt) if amt is not None else None,
                "currency": "USD" if amt is not None else None,
                "start_year": str(sy) if sy else None,
                "end_year": str(ey) if ey else None,
                "description": (None if k % 3 == 0 else
                                f"How programs shape outcomes, case {k}"),
            }
    # the aos (round 11) and schmidt (round 14) arms have their own
    # re-derivations below
    actual = [r for r in _run(spark, sf_dir, "method5_parse_awards")
              if r.member not in ("aos", "schmidt_sciences")]
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        exp = expected[(r.member, r.funder_award_id)]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.member}/{r.funder_award_id}.{col}: "
                f"{got!r} != {want!r}")


# ---------------------------------------------------------------------------
# Prize-pattern family (scripts/local/{bbva_frontiers,crafoord_prize,
# dan_david_prize,millennium_prize}_to_s3.py)
# ---------------------------------------------------------------------------

_PZ_ORG_HINTS = {
    "academy", "agency", "alliance", "association", "center", "centre",
    "council", "development", "foundation", "fund", "initiative",
    "institute", "international", "laboratory", "lab", "network",
    "organization", "programme", "program", "project", "university"}

_PZ_CATEGORIES = [
    "Basic Sciences", "Biology and Biomedicine",
    "Information and Communication Technologies",
    "Climate Change and Environmental Sciences",
    "Economics, Finance and Management", "Social Sciences",
    "Humanities", "Music and Opera", "Development Cooperation", "Arts"]


def _pz_collapse(v):
    if not v:
        return None
    v = v.replace("\xa0", " ")
    v = re.sub(r"\s+", " ", v).strip()
    v = re.sub(r"\s+([,;.:])", r"\1", v)
    return v or None


def _pz_slug(v):
    v = (v or "").lower()
    v = re.sub(r"[^a-z0-9]+", "-", v).strip("-")
    return v or "unknown"


def _pz_split(name):
    if not name:
        return None, None
    tokens = name.split()
    sfx = {"phd", "md", "dphil", "dsc", "scd", "jr.", "sr.", "ii", "iii",
           "iv", "jr", "sr"}
    while tokens and tokens[-1].lower().strip(",.") in sfx:
        tokens.pop()
    if not tokens:
        return None, None
    if len(tokens) == 1:
        return None, tokens[0]
    return " ".join(tokens[:-1]), tokens[-1]


def _pz_is_org(name):
    if not name:
        return False
    lower = name.lower()
    if lower.startswith(("the ", "un ", "una ", "el ", "la ")):
        return True
    if any(ch in name for ch in ["&", "/", "("]):
        return True
    return bool(set(re.findall(r"[a-z]+", lower)) & _PZ_ORG_HINTS)


def _pz_amount(total, share):
    return f"{total / share:.6f}".rstrip("0").rstrip(".")


def test_prize_pattern_matches_reference_semantics(spark, sf_dir,
                                                   orders_rows):
    from collections import Counter
    keys = sorted(k for k, *_ in orders_rows)
    expected = {}

    # ---- bbva: share counts per (year, category)
    bb_rows = []
    for k in keys:
        name = {0: f"Omar Yaghi{k % 210}",
                1: f"The Intergovernmental Panel on Climate {k % 210}",
                2: f"World Resources Institute {k % 210}",
                3: f"Susan Athey{k % 210} PhD"}[k % 4]
        label = (f"XVII Edition (20{k % 18:02d})" if k % 3 == 0
                 else "Edition label without year")
        ym = re.search(r"\((\d{4})\)", label)
        year = ym.group(1) if ym else f"20{k % 18:02d}"
        em = re.search(r"^([^()]+)", label)
        edition = _pz_collapse(em.group(1)) if em else label
        category = _PZ_CATEGORIES[k % 10]
        if _pz_is_org(name):
            ltype, g_, f_ = "organization_or_group", None, name
        else:
            g_, f_ = _pz_split(name)
            ltype = "person"
        bb_rows.append((k, year, category, name, ltype, g_, f_, edition))
    shares = Counter((y, c) for _, y, c, *_ in bb_rows)
    for k, year, category, name, ltype, g_, f_, edition in bb_rows:
        sc = shares[(year, category)]
        expected[("bbva_frontiers",
                  f"bbva-frontiers-{year}-laureate-{k}")] = {
            "award_year": year, "laureate_name": name,
            "laureate_type": ltype, "given_name": g_, "family_name": f_,
            "edition_label": edition, "award_category": category,
            "award_share_count": str(sc),
            "portion": f"1/{sc}" if sc > 1 else "1",
            "award_total_amount": "400000",
            "source_award_amount": _pz_amount(400000.0, sc),
            "currency": "EUR",
            "profile_category": category,
            "profile_edition": f"{k % 18 + 1}th Edition",
            "award_summary": f"Frontiers of Knowledge Award in case {k}",
            "bio": _pz_collapse(f"Born researcher profile {k} "
                                "Second bio paragraph."),
            "contribution": f"Pioneered the field, case {k % 11}",
        }

    # ---- crafoord: 2015+ amounts, HTML-stripped citation
    cr_rows = []
    cr_cats = ["Astronomy", "Mathematics", "Geosciences", "Biosciences",
               "Polyarthritis"]
    for k in keys:
        year = k % 14 + 2011
        cat = cr_cats[k % 5]
        cr_rows.append((k, year, cat))
    shares = Counter((y, _pz_slug(c)) for _, y, c in cr_rows)
    for k, year, cat in cr_rows:
        name = (f"Eske Willerslev{k % 190}"
                + (" Jr." if k % 5 == 0 else ""))
        lname = _pz_collapse(name)
        g_, f_ = _pz_split(lname)
        cat_slug = _pz_slug(cat)
        sc = shares[(year, cat_slug)]
        cite_raw = (f"<p>For pioneering  work on ancient DNA, case {k}"
                    " &amp; environmental genomics.</p>")
        import html as _html
        cite = _pz_collapse(
            re.sub(r"<[^>]*>", " ", _html.unescape(cite_raw)))
        row = {
            "award_year": str(year), "laureate_name": lname,
            "given_name": g_, "family_name": f_,
            "award_category": cat, "prize_category_slug": cat_slug,
            "citation": cite,
            "laureate_title": (None if k % 3 == 0 else
                               f"Professor of Evolutionary Genetics "
                               f"{k % 7}"),
            "affiliation": (None if k % 4 == 0 else
                            f"University of Copenhagen {k % 40}"),
            "award_share_count": str(sc),
            "portion": f"1/{sc}" if sc > 1 else "1",
        }
        if year >= 2015:
            row.update({"award_total_amount": "6000000",
                        "source_award_amount": _pz_amount(6000000.0, sc),
                        "currency": "SEK"})
        else:
            row.update({"award_total_amount": None,
                        "source_award_amount": None, "currency": None})
        expected[("crafoord_prize",
                  f"crafoord-prize-{year}-{cat_slug}-laureate-{k}")] = row

    # ---- dan_david: fixed amount, profile description joins
    for k in keys:
        year = k % 4 + 2022
        name = f"Karma Ben{k % 200}-Johanan"
        g_, f_ = _pz_split(name)
        aff = None if k % 4 == 0 else f"Hebrew University {k % 30}"
        ps = [f"Research summary paragraph one, case {k}"]
        if k % 4 != 0:
            ps.append(f"Hebrew University {k % 30}")
        ps += [name, f"Second research paragraph {k % 13}",
               "Stay up to date with the Dan David Prize newsletter"]
        paragraphs = []
        for t in ps:
            if t == aff or t == name:
                continue
            if t.startswith("Stay up to date"):
                break
            paragraphs.append(t)
        expected[("dan_david_prize",
                  f"dan-david-prize-{year}-winner-{k}")] = {
            "award_year": str(year), "laureate_name": name,
            "given_name": g_, "family_name": f_,
            "research_topic": (None if k % 3 == 0 else
                               f"History of religions, strand {k % 6}"),
            "affiliation": aff,
            "profile_title_affiliation": (
                f"Professor of Comparative Religion, Hebrew University "
                f"{k % 30}"),
            "profile_description": _pz_collapse(" ".join(paragraphs)),
            "source_award_amount": "300000", "currency": "USD",
        }

    # ---- millennium: laureate explode + share per (year, innovation)
    ml_rows = []
    for k in keys:
        year = k % 11 * 2 + 2004
        innovation = f"Innovation {k % 160}"
        raw = {0: f"Grand Prize: Tuomo Suntola{k % 160}",
               1: (f"Winner: Shuji Nakamura{k % 160} and "
                   f"Isamu Akasaki{k % 160}"),
               2: f"Frances Arnold{k % 160}",
               3: f"Stuart Parkin{k % 160} PhD"}[k % 4]
        stripped = re.sub(r"^(Grand Prize|Winner):\s*", "",
                          _pz_collapse(raw) or "").strip()
        laureates = ([p.strip() for p in stripped.split(" and ")
                      if p.strip()] if " and " in stripped
                     else ([stripped] if stripped else []))
        for lname in laureates:
            ml_rows.append((k, year, innovation, raw, lname))
    shares = Counter((y, i) for _, y, i, _, _ in ml_rows)
    for k, year, innovation, raw, lname in ml_rows:
        sc = shares[(year, innovation)]
        g_, f_ = _pz_split(lname)
        detail_slug = f"winner-{k % 160}-{year}"
        slug = f"{detail_slug}-{_pz_slug(lname)}"
        tail = [f"Developed the core technology, case {k}"]
        if k % 2 == 0:
            tail.append(f"Further impact paragraph {k % 9}")
        expected[("millennium_prize",
                  f"millennium-prize-{year}-{slug}")] = {
            "award_year": str(year), "laureate_name": lname,
            "given_name": g_, "family_name": f_,
            "innovation": innovation, "raw_laureates": raw,
            "country": None if k % 3 == 0 else "Finland",
            "profile_description": _pz_collapse(" ".join(tail)),
            "award_share_count": str(sc),
            "portion": f"1/{sc}" if sc > 1 else "1",
            "award_total_amount": "1000000",
            "source_award_amount": _pz_amount(1000000.0, sc),
            "currency": "EUR", "profile_slug": slug,
        }

    # the princess_asturias and stockholm_water_prize arms (round 11)
    # have their own re-derivations below — this pins the original four
    actual = [r for r in _run(spark, sf_dir, "prize_pattern_parse")
              if r.member in ("bbva_frontiers", "crafoord_prize",
                              "dan_david_prize", "millennium_prize")]
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        exp = expected[(r.member, r.funder_award_id)]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.member}/{r.funder_award_id}.{col}: "
                f"{got!r} != {want!r}")


# ---------------------------------------------------------------------------
# Foundation-archive family (scripts/local/{ahmanson,costech,kirby,
# lumina}_to_s3.py)
# ---------------------------------------------------------------------------

_FA_US_STATES = {
    "AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DE", "DC", "FL", "GA",
    "HI", "ID", "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD", "MA",
    "MI", "MN", "MS", "MO", "MT", "NE", "NV", "NH", "NJ", "NM", "NY",
    "NC", "ND", "OH", "OK", "OR", "PA", "RI", "SC", "SD", "TN", "TX",
    "UT", "VT", "VA", "WA", "WV", "WI", "WY"}


def _fa_display(recip, desc):
    if not desc:
        return f"Grant to {recip}"
    short = desc
    if len(short) > 180:
        short = short[:177].rsplit(" ", 1)[0] + "..."
    return f"{recip}: {short}"


def _fa_first_num(v):
    t = _arc_clean(v)
    if not t:
        return None
    m = re.search(r"([0-9][0-9,]*(?:\.[0-9]+)?)", t)
    return m.group(1).replace(",", "") if m else None


def test_foundation_archive_matches_reference_semantics(spark, sf_dir,
                                                        orders_rows):
    expected = {}
    for k, *_ in orders_rows:
        # ---- ahmanson
        post_id = str(k + 40000)
        grantee = f"Organisation {k % 280}"
        desc = (None if k % 7 == 0 else
                _arc_clean(
                    "For general support of the capital campaign and the "
                    "museum education initiative across the greater "
                    "region, including the expansion of public "
                    f"programming, case {k}") if k % 7 == 1 else
                f"For program support, case {k}")
        amt = _fa_first_num({0: None, 1: f"${k % 800 + 100},000",
                             2: "125,000.50", 3: "undisclosed"}[k % 4])
        loc = _arc_clean({0: None, 1: "Los Angeles, CA", 2: "Pasadena",
                          3: "Mexico City, DF, MX",
                          4: "Santa Monica , CA"}[k % 5])
        if not loc or "," not in loc:
            city, region, country = loc, None, None
        else:
            parts = [p.strip() for p in loc.split(",")]
            region = parts[-1]
            city = ", ".join(parts[:-1]).strip() or None
            country = "US" if region in _FA_US_STATES else None
        fy = (f"20{k % 25:02d}" if k % 5 != 0
              else f"fy-20{k % 25:02d}")
        expected[("ahmanson", f"ahmanson-{post_id}")] = {
            "display_name": _fa_display(grantee, desc),
            "description": desc, "recipient_name": grantee,
            "amount": amt,
            "currency": "USD" if amt else None,
            "program_area": None if k % 3 == 0 else f"Arts {k % 4}",
            "fiscal_year": fy,
            "recipient_location": loc, "recipient_city": city,
            "recipient_region": region, "recipient_country": country,
            "source_section_total_amount": str(k % 90 + 10) + "000000",
        }
        # ---- costech: the dead honorific regex means titles survive
        name = {0: f"Prof. John Mushi{k % 170}",
                1: f"Neema Said{k % 170} PhD",
                2: f"Baraka{k % 170}",
                3: f"Dr. Amina Juma{k % 170} Jr."}[k % 4]
        tokens = [t.strip(" ,") for t in name.split() if t.strip(" ,")]
        sfx = {"PhD", "MD", "DPhil", "Jr.", "Sr.", "II", "III", "IV"}
        while tokens and tokens[-1].rstrip(",") in sfx:
            tokens.pop()
        if not tokens:
            g_, f_ = None, None
        elif len(tokens) == 1:
            g_, f_ = None, tokens[0]
        else:
            g_, f_ = " ".join(tokens[:-1]), tokens[-1]
        budget = {0: None, 1: f"{k % 400 + 100},000,000",
                  2: "1250000.50", 3: "tbd"}[k % 4]
        amount = None
        if budget:
            try:
                a = float(budget.replace(",", ""))
                amount = (str(int(a)) if a.is_integer()
                          else f"{a:.2f}".rstrip("0").rstrip("."))
            except ValueError:
                amount = None
        prog = ("Research Program" if k % 3 == 0
                else f"Innovation Program {k % 3}")
        sub = None if k % 2 == 0 else f"Subprogram {k % 4}"
        start = (None if k % 3 == 0
                 else f"202{k % 4}-0{k % 9 + 1}-15")
        expected[("costech", f"nfast-{k + 70000}")] = {
            "display_name": f"Aflatoxin mitigation study {k}",
            "description": (f"Background on maize value chains {k}"
                            if k % 3 != 0 else
                            (f"Objective: improve storage {k % 9}"
                             if k % 2 != 0 else None)),
            "recipient_name": name,
            "lead_given_name": g_, "lead_family_name": f_,
            "amount": amount,
            "currency": "TZS" if amount is not None else None,
            "funding_type": ("research"
                             if prog.lower() == "research program"
                             else "grant"),
            "funder_scheme": " - ".join(p for p in [prog, sub] if p),
            "start_date": start,
            "source_year": start[:4] if start else None,
        }
        # ---- kirby: per-year-column explode with digest ids
        category = {0: "MEDICAL & HEALTH", 1: "EDUCATION",
                    2: "ENVIRONMENT"}[k % 3]
        recipient = (f"Recipient Org {k}" if k % 4 == 0
                     else f"Recipient Org {k % 240}")
        desc_k = (None if k % 4 == 0
                  else f"Support for community program {k}")
        cells = [{0: None, 1: f"${k % 90 + 10},000", 2: "-",
                  3: f"{k % 40 + 5}.000", 4: f"{k % 40 + 5}.000"
                  }[k % 5],
                 (f"${k % 60 + 15},500.50" if k % 2 == 0 else None),
                 ("n/a" if k % 7 == 0 else None)]
        years = ["2022", "2023", "2024"]
        for idx, cell in enumerate(cells):
            t = _arc_clean(cell)
            if not t or t in {"-", "–", "—"}:
                continue
            m = re.search(r"([0-9][0-9,]*(?:\.[0-9]+)?)", t)
            if not m:
                continue
            raw = m.group(1)
            if "," not in raw and re.fullmatch(r"\d{1,3}(?:\.\d{3})+",
                                               raw):
                amount_k = raw.replace(".", "")
            else:
                amount_k = raw.replace(",", "")
            year = years[idx]
            digest_src = "|".join([year, category.lower(),
                                   recipient.lower(),
                                   (desc_k or "").lower()])
            digest = hashlib.sha256(
                digest_src.encode("utf-8")).hexdigest()[:12]
            cat_slug = _potter_slug(category, 32)
            rec_slug = _potter_slug(recipient, 80)
            aid = f"kirby-{year}-{cat_slug}-{rec_slug}-{digest}"
            expected[("kirby", aid)] = {
                "display_name": _fa_display(recipient, desc_k),
                "recipient_name": recipient,
                "source_category": category,
                "source_year": year, "amount": amount_k,
                "currency": "AUD", "funder_scheme": category,
                "source_amount_display": t,
                "source_column_year": str(idx + 1),
            }
        # ---- lumina
        grant_no = (None if k % 9 == 0
                    else f"LF-{k % 10000 + 1000}-{k}")
        url_slug = f"grant-slug-{k}"
        amt_l = _fa_first_num({0: None, 1: f"${k % 700 + 100},000",
                               2: "249,999.99", 3: "in kind"}[k % 4])
        range_raw = {0: None,
                     1: (f"{k % 12 + 1}/{k % 28 + 1}/202{k % 4} "
                         f"through 12/31/202{k % 4 + 1}"),
                     2: f"{k % 12 + 1}/1/201{k % 9}",
                     3: "ongoing"}[k % 4]
        start = end = None
        if range_raw:
            parts = re.split(r"\s+through\s+", range_raw, maxsplit=1,
                             flags=re.I)

            def pd_(t):
                m = re.match(r"^(\d{1,2})/(\d{1,2})/(\d{4})$", t.strip())
                if not m:
                    return None
                mo, dy, yr_ = (int(p) for p in m.groups())
                return f"{yr_:04d}-{mo:02d}-{dy:02d}"
            if len(parts) == 2:
                start, end = pd_(parts[0]), pd_(parts[1])
            else:
                start = pd_(range_raw)
        desc_l = None if k % 5 == 0 else f"To support attainment goal {k}"
        recip_l = f"College Network {k % 230}"
        expected[("lumina", grant_no or url_slug)] = {
            "display_name": desc_l or f"Grant to {recip_l}",
            "description": desc_l, "recipient_name": recip_l,
            "amount": amt_l,
            "currency": "USD" if amt_l else None,
            "start_date": start, "end_date": end,
            "source_year": start[:4] if start else None,
            "recipient_location": (None if k % 4 == 0
                                   else f"Indianapolis, IN {k % 3}"),
        }
    # the thf arm (round 12) has its own re-derivation below
    actual = [r for r in _run(spark, sf_dir, "foundation_archive_parse")
              if r.member != "thf"]
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        exp = expected[(r.member, r.funder_award_id)]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.member}/{r.funder_award_id}.{col}: "
                f"{got!r} != {want!r}")


# ---------------------------------------------------------------------------
# Micro-funder kit (scripts/local/{eruk,lcrf,fmfc,ntap,
# brain_research_uk,medical_research_scotland,blood_cancer_uk,
# cirm}_to_s3.py)
# ---------------------------------------------------------------------------

def _mf_clean(v):
    if v is None:
        return None
    s = re.sub(r"\s+", " ", str(v)).strip()
    return s or None


def _mf_slug(s):
    return re.sub(r"[^a-z0-9]+", "-", (s or "").lower()).strip("-")[:90]


def test_microfunder_matches_reference_semantics(spark, sf_dir,
                                                 orders_rows):
    keys = sorted(k for k, *_ in orders_rows)
    expected = {}

    # ---- eruk
    seen = set()
    for k in keys:
        wp_slug = f"project-{k % 900}"
        if wp_slug in seen:
            continue
        seen.add(wp_slug)
        title = (None if k % 13 == 0 else _mf_clean(
            f"Seizure prediction & forecasting study {k}"))
        if not title:
            continue
        expected[("eruk", f"eruk-{wp_slug}"[:120])] = {
            "title": title,
            "category_ids": (None if k % 3 == 0
                             else f"{k % 9 + 11},{k % 5 + 30}"),
            "landing_page_url": ("https://epilepsyresearch.org.uk/"
                                 f"research_portfolio/{wp_slug}/"),
        }

    # ---- lcrf
    LCRF_INST = re.compile(
        r"Universit|College|Institute|Hospital|School|Center|Centre|"
        r"Cancer|Clinic|Foundation|Health|Medical|Laborator|NYU|MIT|"
        r"UCLA|UCSF", re.I)
    LCRF_DEG = re.compile(
        r",?\s*(MD|PhD|DPhil|MPH|MSc|MS|DO|PharmD|DVM|ScD|MBBS|FRCP|RN)"
        r"\b\.?", re.I)

    def lcrf_split(raw):
        n = _mf_clean(raw)
        if not n:
            return None, None
        n = re.sub(r"^(Dr|Prof|Professor)\.?\s+", "", n, flags=re.I)
        n = LCRF_DEG.sub("", n).strip(" .,")
        n = n.split(",")[0].strip()
        toks = n.split()
        if not toks:
            return None, None
        if len(toks) == 1:
            return None, toks[0]
        return " ".join(toks[:-1]), toks[-1]

    seen = set()
    for k in keys:
        wp_slug = f"grant-{k % 850}"
        if wp_slug in seen:
            continue
        seen.add(wp_slug)
        rendered = {
            0: (f"20{k % 25:02d} – Career Development Award – Memorial "
                f"Hospital {k % 60} – Dr. Maya Lin{k % 150}, MD, PhD"),
            1: (f"20{k % 25:02d} – Pilot Grant – University Cancer "
                f"Center {k % 60}"),
            2: f"Research Grant – UCSF Lab {k % 60} – James Chen{k % 150}",
            3: f"Untitled award {k}",
            4: (f"20{k % 25:02d} - Team Science - Institute {k % 60} - "
                f"Priya Raman{k % 150}")}[k % 5]
        parts = [p.strip() for p in re.split(r"\s[–—-]\s", rendered)
                 if p.strip()]
        if len(parts) < 2:
            year = program = institution = pi = None
        else:
            year = None
            m = re.match(r"(20\d\d)", parts[0])
            if m:
                year = int(m.group(1))
                parts = parts[1:]
            pi = institution = None
            if (parts and LCRF_INST.search(parts[-1])
                    and not LCRF_DEG.search(parts[-1])):
                institution = parts[-1]
                program = " - ".join(parts[:-1])
            elif len(parts) >= 2:
                pi = parts[-1]
                institution = parts[-2]
                program = " - ".join(parts[:-2])
            else:
                program = parts[0]
        g_, f_ = lcrf_split(pi)
        expected[("lcrf", f"lcrf-{wp_slug}"[:120])] = {
            "title": _mf_clean(rendered),
            "pi_given": g_, "pi_family": f_,
            "institution": _mf_clean(institution),
            "funder_scheme": _mf_clean(program) or None,
            "start_year": year,
        }

    # ---- fmfc
    for k in keys:
        appno = None if k % 7 == 0 else f"APP{k + 3000}"
        title = f"Paediatric resilience project {k}"
        ci = {0: f"Dr K Lycett{k % 140}",
              1: f"Professor Anne-Louise Ponsonby{k % 140} - VIC",
              2: f"A/Prof Sam Wood{k % 140}, PhD",
              3: None}[k % 4]
        g_ = f_ = None
        if ci:
            n = _mf_clean(ci)
            n = re.sub(r"\s*[-–]\s*[A-Z]{2,3}$", "", n)
            n = re.sub(r"^(Dr|Prof|Professor|Associate Professor|A/Prof"
                       r"|Mr|Mrs|Ms|Miss|Sir|Dame)\.?\s+", "", n,
                       flags=re.I).strip()
            n = n.split(",")[0].strip()
            toks = n.split()
            if len(toks) == 1:
                g_, f_ = None, toks[0]
            elif toks:
                g_, f_ = " ".join(toks[:-1]), toks[-1]
        amt_raw = {0: None, 1: f"${k % 90 + 10},000", 2: "75,500",
                   3: "funded"}[k % 4]
        amount = None
        if amt_raw:
            m = re.search(r"\$?\s*([\d,]+)", amt_raw)
            if m:
                amount = float(m.group(1).replace(",", ""))
        aid = f"fmfc-{_mf_slug(appno) if appno else _mf_slug(title)}"
        expected[("fmfc", aid)] = {
            "title": title, "pi_given": g_, "pi_family": f_,
            "institution": (None if k % 4 == 0 else
                            f"Murdoch Children's Institute {k % 40}"),
            "amount": amount,
            "term": None if k % 3 == 0 else f"{k % 3 + 1} years",
        }

    # ---- ntap
    NTAP_DEG = re.compile(
        r"\b(Ph\.?D|M\.?D|D\.?Phil|M\.?B\.?B\.?S|D\.?O|M\.?Sc|"
        r"Pharm\.?D)\b")
    for k in keys:
        title = f"NF1 biomarker initiative {k}"
        pi_full = (f"Dr. Lu Le{k % 160}, M.D., Ph.D"
                   + (" and Kevin Shannon" if k % 6 == 0 else ""))
        vals = [x for x in [
            ("Preclinical study" if k % 5 != 4 else None),
            pi_full,
            f"University Hospital {k % 50}",
            ("Dallas, USA" if k % 2 == 0 else "London, UK")]
            if x is not None]
        if len(vals) == 4:
            study, pi, inst, loc = vals
        else:
            study = pi = inst = loc = None
            LOC = re.compile(
                r"^.+,\s*(USA|United States|Canada|UK|United Kingdom|"
                r"Germany|France|Australia|Israel|Italy|Spain|"
                r"Netherlands|Sweden|Switzerland|Japan|China|Belgium|"
                r"Austria|Denmark|Finland|Norway|Ireland|[A-Z][a-z]+)"
                r"\s*$")
            INSTK = re.compile(
                r"Universit|College|Institute|Hospital|School|Center|"
                r"Centre", re.I)
            for t in vals:
                if pi is None and NTAP_DEG.search(t):
                    pi = t
                elif loc is None and LOC.match(t) and not INSTK.search(t):
                    loc = t
                elif inst is None and INSTK.search(t):
                    inst = t
                elif study is None:
                    study = t
        first_pi = re.split(r";| and (?=[A-Z])", pi)[0] if pi else None
        g_ = f_ = None
        if first_pi:
            n = _mf_clean(first_pi)
            n = re.sub(r"^(Dr|Prof|Professor|Mr|Mrs|Ms|Miss)\.?\s+", "",
                       n, flags=re.I).strip()
            n = n.split(",")[0].strip()
            n = NTAP_DEG.sub("", n).strip(" .,")
            toks = n.split()
            if len(toks) == 1:
                g_, f_ = None, toks[0]
            elif toks:
                g_, f_ = " ".join(toks[:-1]), toks[-1]
        country = None
        if loc:
            m = re.match(
                r"^.+,\s*(USA|United States|Canada|UK|United Kingdom|"
                r"Germany|France|Australia|Israel|Italy|Spain|"
                r"Netherlands|Sweden|Switzerland|Japan|China|Belgium|"
                r"Austria|Denmark|Finland|Norway|Ireland|[A-Z][a-z]+)"
                r"\s*$", loc)
            if m:
                country = {"USA": "United States",
                           "UK": "United Kingdom"}.get(m.group(1),
                                                       m.group(1))
        expected[("ntap", f"ntap-{_mf_slug(title)}")] = {
            "title": title, "pi_given": g_, "pi_family": f_,
            "institution": inst, "country": country,
            "funder_scheme": study,
            "description": (None if k % 3 == 0 else _mf_clean(
                f"Preclinical platform description {k}")),
        }

    # ---- brain_research_uk
    MONTHS = {m: i for i, m in enumerate(
        ["January", "February", "March", "April", "May", "June", "July",
         "August", "September", "October", "November", "December"], 1)}

    def mon_year(s):
        m = re.search(r"([A-Za-z]+)\s+(\d{4})", s or "")
        if m and m.group(1).title() in MONTHS:
            return (f"{m.group(2)}-{MONTHS[m.group(1).title()]:02d}-01",
                    m.group(2))
        y = re.search(r"(\d{4})", s or "")
        return (f"{y.group(1)}-01-01", y.group(1)) if y else (None, None)

    for k in keys:
        lines = [x for x in [
            "Our research", "researcher",
            (f"Professor Ada Byron{k % 150}"
             + (" and Grace Hopper" if k % 6 == 0 else "")),
            ("institute" if k % 4 == 0
             else f"University of Leeds {k % 9}"),
            {0: "Fellowship", 1: "Project grant",
             2: "Our supporters"}[k % 3],
            ("Awarded in " + (f"March 20{k % 24:02d}" if k % 2 == 0
                              else f"20{k % 24:02d}")),
            (f"Completed June 20{k % 24 + 2:02d}" if k % 3 != 0
             else None),
            "Donate now"] if x is not None]
        pi = institution = ftype = None
        start_date = start_year = end_year = None
        ridx = None
        FUND_TYPES = ("fellowship", "project grant", "phd studentship",
                      "programme grant", "pump priming", "small grant",
                      "studentship", "research grant")
        for i, l in enumerate(lines):
            low = l.lower()
            if low == "researcher" and i + 1 < len(lines):
                pi = pi or lines[i + 1]
                ridx = ridx if ridx is not None else i
            elif low in FUND_TYPES and ftype is None:
                ftype = l
            elif low.startswith("awarded in"):
                tail = (l[len("awarded in"):].strip()
                        or (lines[i + 1] if i + 1 < len(lines) else ""))
                start_date, start_year = mon_year(tail)
            elif low.startswith(("completed", "completion")):
                tail = (l.split(" ", 1)[1] if " " in l
                        else (lines[i + 1] if i + 1 < len(lines) else ""))
                _, end_year = mon_year(tail)
        if ridx is not None:
            for j in range(ridx + 1, min(ridx + 6, len(lines))):
                cand = lines[j].strip()
                if (re.search(r"University|College|Institute|Imperial|"
                              r"King'?s|Hospital|School of|UCL|"
                              r"Queen Mary|Newcastle|Cardiff|Dundee|"
                              r"Edinburgh", cand, re.I)
                        and len(cand) < 60
                        and cand.lower() != "institute"):
                    institution = cand
                    break
        first = re.split(r";| and |&|,", pi)[0].strip()
        first = re.sub(r"^(Professor|Prof|Doctor|Dr|Mr|Mrs|Ms|Miss|Sir"
                       r"|Dame)\.?\s+", "", first, flags=re.I).strip()
        parts = first.split()
        if len(parts) < 2:
            g_, f_ = None, first or None
        else:
            g_, f_ = " ".join(parts[:-1]), parts[-1]
        expected[("brain_research_uk", f"bruk-project-{k}")] = {
            "title": f"Mapping glioma progression {k}",
            "pi_given": g_, "pi_family": f_,
            "institution": institution, "funder_scheme": ftype,
            "start_date": start_date,
            "start_year": int(start_year) if start_year else None,
            "end_year": end_year,
        }

    # ---- medical_research_scotland
    for k in keys:
        student = supervisor = None
        if k % 3 == 0:
            student = f"Rory Gail{k % 150}"
            supervisor = f"Prof Ewan Muir{k % 150}"
        elif k % 3 == 1:
            student = f"Fiona Glen{k % 150}"  # next-line value
            supervisor = None  # 'Supervisor' line was consumed as value
        else:
            supervisor = f"Prof Ewan Muir{k % 150}"
        # reproduce: k%3==1 has 'Student:' label with next line being
        # the supervisor-slot line 'Fiona Glen…'; the supervisor label
        # line itself is that same text, so no Supervisor label exists
        pi = student or supervisor
        first = re.split(r";| and |&|,", pi)[0].strip()
        first = re.sub(r"^(Professor|Prof|Dr|Mr|Mrs|Ms|Miss|Sir|Dame)"
                       r"\.?\s+", "", first, flags=re.I).strip()
        parts = first.split()
        if len(parts) < 2:
            g_, f_ = None, first or None
        else:
            g_, f_ = " ".join(parts[:-1]), parts[-1]
        expected[("medical_research_scotland", f"mrs-award-{k}")] = {
            "title": f"Mechanisms of fibrosis {k}",
            "pi_given": g_, "pi_family": f_,
            "institution": f"University of Dundee {k % 9}",
            "supervisor": (f"Prof Ewan Muir{k % 150}"
                           if k % 3 == 0 else None),
            "start_year": 2000 + k % 24,
        }

    # ---- blood_cancer_uk: simulate the reference line scan
    for k in keys:
        lines = [x for x in [
            "Research projects", "Lead researcher",
            f"Professor Mhairi Copland{k % 150} PhD FRCP",
            ("Related Conditions" if k % 4 == 0
             else f"University of Glasgow {k % 9}"),
            ("Related Conditions" if k % 4 != 0 else None),
            (f"Leukaemia type {k % 4}" if k % 5 != 0
             else "Research Type"),
            (f"Clinical trial {k % 3}" if k % 5 == 0
             else "Research Type"),
            f"Discovery research {k % 3}",
            "Region",
            ("Scotland" if k % 2 == 0 else "London")] if x is not None]
        LABELS = ("Related Conditions", "Research Type", "Region",
                  "Lead researcher")
        pi = inst = conditions = rtype = region = None
        for i, l in enumerate(lines):
            if l == "Lead researcher":
                if i + 1 < len(lines):
                    pi = lines[i + 1]
                if (i + 2 < len(lines) and not any(
                        lines[i + 2].startswith(x) for x in LABELS)):
                    inst = lines[i + 2]
            elif l == "Related Conditions" and i + 1 < len(lines):
                conditions = lines[i + 1]
            elif l == "Research Type" and i + 1 < len(lines):
                rtype = lines[i + 1]
            elif l == "Region" and i + 1 < len(lines):
                region = lines[i + 1]
        first = re.split(r";| and |&", pi)[0].strip()
        first = re.sub(r"^(Professor|Prof|Dr|Mr|Mrs|Ms|Miss|Sir|Dame)"
                       r"\.?\s+", "", first, flags=re.I).strip()
        first = re.sub(r"\b(PhD|MD|FMedSci|OBE|MBE|CBE|FRCP|FRS)\b\.?",
                       "", first).strip().rstrip(",")
        parts = first.split()
        g_, f_ = " ".join(parts[:-1]), parts[-1]
        expected[("blood_cancer_uk", f"bcuk-project-{k}")] = {
            "title": f"Targeting leukaemia stem cells {k}",
            "pi_given": _mf_clean(g_), "pi_family": f_,
            "institution": inst,
            "conditions": conditions, "research_type": rtype,
            "region": region,
        }

    # ---- cirm
    for k in keys:
        grant_no = f"DISC2-{k + 5000}"
        award_value = ("pending" if k % 4 == 0
                       else f"${k % 900 + 100},{k % 1000:03d}")
        amount = None
        m = re.search(r"[\d,]+", award_value.replace("$", ""))
        if m:
            amount = str(int(m.group(0).replace(",", "")))
        scheme = (None if k % 3 == 2
                  else {0: "Basic Biology I",
                        1: "Translational II"}[k % 3])
        pi_raw = f"Dr. June Park{k % 160}, PhD"
        first = re.split(r";| and |&|,", pi_raw)[0].strip()
        first = re.sub(r"^(Professor|Prof|Dr|Mr|Mrs|Ms|Miss|Sir|Dame)"
                       r"\.?\s+", "", first, flags=re.I).strip()
        first = re.sub(r"\b(PhD|MD|MBA|DVM|DPhil|ScD|FMedSci|OBE|MBE|"
                       r"CBE|FRCP|FRS)\b\.?", "",
                       first).strip().rstrip(",")
        parts = first.split()
        if len(parts) < 2:
            g_, f_ = None, first or None
        else:
            g_, f_ = " ".join(parts[:-1]), parts[-1]
        expected[("cirm", grant_no)] = {
            "title": f"Stem cell therapy program {k}",
            "pi_given": g_, "pi_family": f_,
            "institution": f"Stanford University {k % 7}",
            "amount_str": amount, "funder_scheme": scheme,
            "status": "Active" if k % 2 == 0 else "Closed",
        }

    actual = _run(spark, sf_dir, "microfunder_parse_awards")
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        exp = expected[(r.member, r.funder_award_id)]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.member}/{r.funder_award_id}.{col}: "
                f"{got!r} != {want!r}")


# ---------------------------------------------------------------------------
# WP-REST pair (scripts/local/gulbenkian_to_s3.py,
# scripts/local/velux_stiftung_to_s3.py)
# ---------------------------------------------------------------------------

def _wp_strip(html_text):
    import html as _html
    if not html_text:
        return ""
    text = re.sub(r"<[^>]+>", " ", html_text)
    text = _html.unescape(text)
    return re.sub(r"\s+", " ", text).strip()


def _gu_amount(s):
    """gulbenkian parse_amount (:203-240)."""
    if not s or not isinstance(s, str):
        return None
    s = s.strip().replace("€", "").replace("EUR", "").strip()
    if not s:
        return None
    m = re.search(r"([\d.,]+)", s)
    if not m:
        return None
    raw = m.group(1)
    if "." in raw and "," in raw:
        raw = raw.replace(".", "").replace(",", ".")
    elif "," in raw:
        raw = raw.replace(",", ".")
    else:
        parts = raw.split(".")
        if len(parts) > 1 and len(parts[-1]) <= 2:
            pass
        else:
            raw = raw.replace(".", "")
    try:
        val = float(raw)
    except ValueError:
        return None
    return val if val >= 1 else None


def _gu_year(s):
    if s is None or s == "":
        return None
    s = str(s).strip()
    if s.isdigit() and 1900 <= int(s) <= 2030:
        return int(s)
    m = re.search(r"\b(19\d{2}|20[0-3]\d)\b", s)
    return int(m.group(1)) if m else None


def test_wprest_matches_reference_semantics(spark, sf_dir, orders_rows):
    expected = {}
    for k, *_ in orders_rows:
        # gulbenkian (keep-first never fires: ids carry project_id)
        project_id = str(k + 120000)
        slug = f"projeto-{k % 700}"
        title = _wp_strip(f"<h2>Apoio &amp; inovação {k}</h2>")
        excerpt = (None if k % 3 == 0
                   else _wp_strip(f"<p>Resumo  do projeto {k}</p>"))
        content = _wp_strip(
            f"<div>Conteúdo integral do projeto {k} com detalhes.</div>")
        page_date = f"201{k % 9}-0{k % 9 + 1}-12T10:00:00"
        page_year = int(page_date[:4])
        date_start = {0: None, 1: "2021",
                      2: f"start of 20{k % 31:02d}",
                      3: "por definir"}[k % 4]
        budget = {0: None, 1: "€ 12.500,00", 2: "12500", 3: "12.500",
                  4: "0,75", 5: "EUR 9.850,5"}[k % 6]
        amount = _gu_amount(budget)
        expected[("gulbenkian",
                  f"gulbenkian-{slug}-{project_id}")] = {
            "title": title,
            "description": excerpt or content[:5000],
            "content_full": content[:8000],
            "amount": str(amount) if amount is not None else None,
            "currency": "EUR" if amount is not None else None,
            "start_year": str(_gu_year(date_start) or page_year),
            "end_year": (str(_gu_year("2024"))
                         if k % 3 != 0 else None),
            "local_name": None if k % 2 == 0 else "Lisboa",
            "duration": (None if k % 4 == 0
                         else f"{k % 36 + 6} meses"),
        }
        # velux
        slug_v = f"projekt-{k}"
        page_text = {
            0: "About the project. No funding line here. 2019",
            1: (f"Funding amount: CHF 485,000 Period 20{k % 20:02d} - "
                f"20{k % 20 + 3:02d}"),
            2: "Funding amount | CHF 1'500'000 runs 2019 - 2023",
            3: "funding amount: chf 72.50 period 2020 – 2021",
            4: "Funding amount: CHF 9.850.5 (2018 — 2022)"}[k % 5]
        amount_v = None
        m = re.search(r"Funding amount\s*[:|]?\s*CHF\s*([\d',.]+)",
                      page_text, re.I)
        if m:
            raw = m.group(1).replace("'", "").replace(",", "").strip()
            if "." in raw:
                parts = raw.split(".")
                if len(parts[-1]) > 2:
                    raw = raw.replace(".", "")
            try:
                amount_v = float(raw)
            except ValueError:
                amount_v = None
        sy = ey = None
        pm = re.search(r"\b(19\d{2}|20\d{2})\s*[-–—]\s*(19\d{2}|20\d{2})"
                       r"\b", page_text)
        if pm:
            sy, ey = pm.group(1), pm.group(2)
        expected[("velux_stiftung", f"velux-stiftung-{slug_v}")] = {
            "title": _wp_strip(f"<h1>Daylight research project {k}</h1>"),
            "description": _wp_strip(
                f"<p>Understanding  circadian light exposure, case {k}."
                "</p>")[:5000],
            "amount": str(amount_v) if amount_v is not None else None,
            "currency": "CHF" if amount_v is not None else None,
            "start_year": sy, "end_year": ey,
            "type_names": {0: None, 1: "Science / Daylight",
                           2: "Humus"}[k % 3],
        }
    # the hewlett (round 11), templeton and brain_tumour_charity
    # (round 12) arms have their own re-derivations below
    actual = [r for r in _run(spark, sf_dir, "wprest_parse_projects")
              if r.member in ("gulbenkian", "velux_stiftung")]
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        exp = expected[(r.member, r.funder_award_id)]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.member}/{r.funder_award_id}.{col}: "
                f"{got!r} != {want!r}")


# ---------------------------------------------------------------------------
# Fellowship-directory pair (scripts/local/guggenheim_to_s3.py,
# scripts/local/radcliffe_to_s3.py)
# ---------------------------------------------------------------------------

_FD_PARTICLES = {
    "von", "van", "der", "den", "de", "del", "della", "di", "da",
    "dos", "das", "le", "la", "du", "do", "ten", "ter", "zu", "af",
    "al", "bin", "ibn", "st", "st."}


def _fd_split(full):
    """guggenheim_to_s3.py:219-236 (radcliffe identical)."""
    if not full:
        return None, None
    parts = str(full).strip().split()
    sfx = {"phd", "md", "dphil", "dsc", "scd", "jr.", "sr.", "ii",
           "iii", "iv", "jr", "sr"}
    while parts and parts[-1].lower().strip(",.") in sfx:
        parts.pop()
    if not parts:
        return None, None
    if len(parts) == 1:
        return None, parts[0]
    fam_start = len(parts) - 1
    while fam_start - 1 >= 1 and parts[fam_start - 1].lower() in \
            _FD_PARTICLES:
        fam_start -= 1
    given = " ".join(parts[:fam_start]).strip() or None
    family = " ".join(parts[fam_start:]).strip() or None
    return given, family


def test_fellowdir_matches_reference_semantics(spark, sf_dir,
                                               orders_rows):
    keys = sorted(k for k, *_ in orders_rows)
    expected = {}

    def name_of(k):
        return {0: f"Maya Angelou{k % 190}",
                1: f"Ludwig van der Rohe{k % 190}",
                2: f"Ana de la Cruz{k % 190} PhD",
                3: f"Björk{k % 190}",
                4: f"Vincent St. Martin{k % 190} Jr.",
                5: f"Omar al Farsi{k % 190}"}[k % 6]

    for k in keys:
        name = name_of(k)
        g_, f_ = _fd_split(name)
        year = None if k % 9 == 0 else k % 90 + 1935
        expected[("guggenheim", f"fellow-{k}")] = {
            "fellow_name": name, "given_name": g_, "family_name": f_,
            "start_year": str(year) if year else None,
            "landing_page_url": f"https://www.gf.org/fellows/fellow-{k}/",
        }
    seen = set()
    for k in keys:
        slug = f"person-{k % 800}"
        year = None if k % 7 == 0 else k % 25 + 2000
        if (slug, year) in seen:
            continue
        seen.add((slug, year))
        name = name_of(k)
        g_, f_ = _fd_split(name)
        fid = f"{slug}-{year}" if year else slug
        expected[("radcliffe", fid)] = {
            "fellow_name": name, "given_name": g_, "family_name": f_,
            "start_year": str(year) if year else None,
            "landing_page_url": ("https://www.radcliffe.harvard.edu/"
                                 f"people/{slug}"),
        }
    # the scas and hertz arms (round 11) have their own tests below —
    # this test pins the original guggenheim/radcliffe pair
    actual = [r for r in _run(spark, sf_dir, "fellowship_directory_parse")
              if r.member in ("guggenheim", "radcliffe")]
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        exp = expected[(r.member, r.funder_award_id)]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.member}/{r.funder_award_id}.{col}: "
                f"{got!r} != {want!r}")


# ---------------------------------------------------------------------------
# ANR projects+partners (scripts/local/anr_to_s3.py:240-345,347-545,672-700)
# ---------------------------------------------------------------------------

_ANR_ROLE = re.compile("coord|principal|responsable|porteur")


@pytest.fixture(scope="module")
def lineitem_rows(spark, sf_dir):
    register_views(spark, sf_dir, ("lineitem",))
    return [
        (r.l_orderkey, int(r.l_linenumber), int(r.l_suppkey),
         int(r.l_partkey))
        for r in spark.table("lineitem").select(
            "l_orderkey", "l_linenumber", "l_suppkey", "l_partkey"
        ).collect()
    ]


def _anr_float(raw):
    """anr_to_s3.py:404-410 — strip spaces, ','->'.', numeric coerce."""
    if raw is None:
        return None
    try:
        return float(raw.replace(" ", "").replace(",", "."))
    except ValueError:
        return None


def _anr_date(raw):
    """pd.to_datetime(format='%Y-%m-%d', errors='coerce') then strftime."""
    if raw is None:
        return None
    try:
        return date.fromisoformat(raw).isoformat()
    except ValueError:
        return None


def test_anr_matches_reference_semantics(spark, sf_dir, orders_rows,
                                         lineitem_rows):
    """Re-derives the lead-partner selection (role-regex keep-first /
    arm-wide empty fallback / no-role-column fallback), the combined
    coalesce chains, and the cross-arm keep-first dedup from the
    reference's own rules in Python."""
    # partners in feed order (the fixture's pinned CSV row order)
    partners_by_proj: dict[int, list[dict]] = {}
    for ok, ln, sk, pk in sorted(lineitem_rows,
                                 key=lambda t: (t[0], t[1], t[2], t[3])):
        role10 = ["Coordinateur", "Partenaire", "Porteur de projet",
                  None, "Membre"][(ok * 3 + ln) % 5]
        role05 = ["Partenaire", "Membre", "Autre"][ln % 3]
        partners_by_proj.setdefault(ok, []).append({
            "role_dgds2010": role10, "role_dgds2005": role05,
            "pi_family_name": f"Nom{sk % 97}",
            "pi_given_name": f"Prenom{pk % 89}",
            "pi_orcid": (None if sk % 4 == 0
                         else f"0000-0001-{sk % 9999:04d}-{pk % 10}"),
            "institution": f"CNRS UMR {sk % 50}",
            "institution_type": ["Public", "Prive", "Autre"][sk % 3],
            "country": (None if pk % 7 == 0
                        else "Allemagne" if pk % 5 == 0 else "France"),
            "city": ["Paris", "Lyon", "Grenoble", "Marseille"][pk % 4],
            "rnsr_code": f"{sk % 1000:09d}A",
        })

    def lead_for(arm: int, ok: int):
        """anr_to_s3.py:300-330: role filter keep-first; arm 1 = the
        arm-wide empty-filter fallback (its roles never match); arm 2 =
        no role column -> first partner per project."""
        plist = partners_by_proj.get(ok, [])
        if arm == 0:
            hits = [p for p in plist if p["role_dgds2010"] is not None
                    and _ANR_ROLE.search(p["role_dgds2010"].lower())]
            return hits[0] if hits else None
        return plist[0] if plist else None

    combined = []
    for k, c, d, p, _pri in orders_rows:
        arm = k % 3
        price = f"{p:.2f}"
        montant = None
        if arm != 2:
            montant = [None, "N/A", "1.234,56", price.replace(".", ","),
                       f"123 {k % 900},50", price][k % 6]
        aide = price if arm == 2 and k % 5 != 0 else None
        t0 = (None if arm == 2 else "TBC" if k % 9 == 0
              else None if k % 9 == 1 else d.isoformat())
        debut = (None if arm != 2 else "en cours" if k % 8 == 0
                 else (d + timedelta(days=90 + k % 400)).isoformat())
        aap = (None if arm == 2 else "inconnue" if k % 8 == 0
               else str(1995 + k % 30))
        act_ed = str(2010 + k % 16) if arm == 2 else None
        prog = (None if arm == 2 or k % 10 == 0 else f"PRC-{k % 12}")
        act_ti = f"Action investissement {k % 9}" if arm == 2 else None
        lead = lead_for(arm, k)
        ed = _anr_float(aap)
        if ed is None:
            ed = _anr_float(act_ed)
        row = {
            "project_id": f"ANR-20-CE{c % 450:04d}",
            "acronym": None if k % 11 == 0 else f"ACRO{k % 37}",
            "title": ((None if k % 4 == 0 else f"English title {k % 53}")
                      or (None if k % 6 == 5
                          else f"Titre francais {k % 53}")),
            "abstract": ((None if k % 5 == 0
                          else f"English abstract {k % 71}")
                         or (None if k % 7 == 0
                             else f"Resume francais {k % 71}")),
            "amount": (_anr_float(montant) if _anr_float(montant)
                       is not None else _anr_float(aide)),
            "start_date": _anr_date(t0) or _anr_date(debut),
            "edition_year": ed,
            "funding_program": prog or act_ti,
            "institution": lead["institution"] if lead else None,
            "institution_type": (lead["institution_type"]
                                 if lead else None),
            "city": lead["city"] if lead else None,
            "country": lead["country"] if lead else None,
            "pi_given_name": lead["pi_given_name"] if lead else None,
            "pi_family_name": lead["pi_family_name"] if lead else None,
            "pi_orcid": lead["pi_orcid"] if lead else None,
            "rnsr_code": lead["rnsr_code"] if lead else None,
            "data_source": ["dgds_2010", "dgds_2005", "dgpie"][arm],
        }
        combined.append((arm, k, row))

    # drop_duplicates(subset=['project_id'], keep='first') over the
    # main()-pinned arm order then feed order (anr_to_s3.py:480-484)
    expected: dict[str, dict] = {}
    for _arm, _k, row in sorted(combined, key=lambda t: (t[0], t[1])):
        expected.setdefault(row["project_id"], row)

    actual = _run(spark, sf_dir, "anr_parse_projects")
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        exp = expected[r.project_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.project_id}.{col}: {got!r} != {want!r}")


# ---------------------------------------------------------------------------
# NHMRC XLSX stack (scripts/local/nhmrc_to_s3.py:283-394,458-571)
# ---------------------------------------------------------------------------


def test_nhmrc_matches_reference_semantics(spark, sf_dir, orders_rows):
    """Re-derives the year-descending stack, the blank-id drop (a row
    with an empty grant_id is dropped, NOT back-filled from app_id),
    the keep-first dedup, and the raw-string total quirk from the
    reference's rules in Python."""
    years = [2025, 2021, 2014, 2013]
    stacked = []
    for k, c, d, _p, _pri in orders_rows:
        arm = k % 4
        year = years[arm]
        gid = {0: "", 1: None, 2: "  "}.get(
            k % 17, f"GNT{c % 500:06d}")
        title = f"Grant title {k % 97}"
        simp = f"Simplified title {k % 97}"
        row = {
            "grant_id": gid,
            "app_id": f"APP{k % 90000 + 1000000}",
            "grant_title": simp if arm == 2 else title,
            "simplified_title": simp if arm in (2, 3) else None,
            "cia_name": (None if k % 13 == 0
                         else f"Prof Jane Citizen {k % 61}"),
            "cia_orcid": (None if arm != 0 or k % 5 == 0
                          else f"0000-0002-{k % 9999:04d}-{k % 10}"),
            "administering_institution": f"University of {c % 40}",
            "total": {
                0: f"${k % 900 + 100},{k % 1000:03d}",
                1: f"{k % 2000000}.00",
                2: f"$ {k % 999},500",
                3: str(k % 3000000),
            }[arm],
            "grant_type": {
                0: f"Investigator Grants L{k % 3}",
                1: "Ideas Grants",
                2: "Project Grants",
                3: "Early Career Fellowships",
            }[arm],
            "grant_sub_type": (None if arm not in (0, 1) or k % 7 == 0
                               else f"Stream {k % 4}"),
            "start_date": d.isoformat() if arm in (0, 1) else None,
            "start_year": str(year + k % 2) if arm == 2 else None,
            "end_date": f"{year + 4}-12-31" if arm in (0, 1) else None,
            "end_year": str(year + 4) if arm == 2 else None,
            "date_announced": (f"{year - 1}-10-{k % 28 + 1:02d}"
                               if arm == 1 else None),
            "state_territory": ["NSW", "VIC", "QLD", "WA", "SA",
                                "ACT"][k % 6],
            "broad_research_area": (f"Area {k % 5}" if arm in (1, 2)
                                    else None),
            "fields_of_research": (f"FoR {k % 22}" if arm in (1, 2)
                                   else None),
            "plain_description": (f"Plain description {k % 43}"
                                  if arm == 1 else None),
            "sector": (("University" if c % 3 == 0 else "MRI")
                       if arm == 0 else None),
            "app_year": str(year) if arm in (0, 3) else None,
            "application_round_year": year,
        }
        stacked.append((arm, k, row))

    expected: dict[str, dict] = {}
    for _arm, _k, row in sorted(stacked, key=lambda t: (t[0], t[1])):
        gid = row["grant_id"]
        if gid is None or gid.strip() == "":
            continue  # nhmrc_to_s3.py:494-495 — dropped, never filled
        expected.setdefault(gid, row)

    actual = _run(spark, sf_dir, "nhmrc_parse_grants")
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        exp = expected[r.grant_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.grant_id}.{col}: {got!r} != {want!r}")


# ---------------------------------------------------------------------------
# NSF award JSON flatten (scripts/local/nsf_awards_to_s3.py:222-337)
# ---------------------------------------------------------------------------


def _nsf_flatten(award: dict) -> dict:
    """flatten_award re-typed verbatim (nsf_awards_to_s3.py:222-337)."""
    import json as _json

    flat = {}
    simple = [
        "awd_id", "agcy_id", "tran_type", "awd_istr_txt", "awd_titl_txt",
        "cfda_num", "org_code", "po_phone", "po_email",
        "po_sign_block_name", "awd_eff_date", "awd_exp_date",
        "tot_intn_awd_amt", "awd_amount", "awd_min_amd_letter_date",
        "awd_max_amd_letter_date", "awd_abstract_narration",
        "awd_arra_amount", "awd_agcy_code", "fund_agcy_code", "dir_abbr",
        "div_abbr", "org_dir_long_name", "org_div_long_name", "oblg_fy",
        "_source_file",
    ]
    for f in simple:
        flat[f] = award.get(f)
    flat.update({"inst_name": None, "inst_city": None,
                 "inst_state_code": None, "inst_zip": None,
                 "inst_country_code": None, "inst_country_name": None,
                 "perf_inst_count": 0, "perf_inst_all": None})
    perf = award.get("perf_inst")
    if perf:
        if isinstance(perf, dict):
            flat["inst_name"] = perf.get("perf_inst_name")
            flat["inst_city"] = perf.get("perf_city_name")
            flat["inst_state_code"] = perf.get("perf_st_code")
            flat["inst_zip"] = perf.get("perf_zip_code")
            flat["inst_country_code"] = perf.get("perf_ctry_code")
            flat["inst_country_name"] = perf.get("perf_ctry_name")
            flat["perf_inst_count"] = 1
        elif isinstance(perf, list) and perf:
            first = perf[0]
            flat["inst_name"] = first.get("perf_inst_name")
            flat["inst_city"] = first.get("perf_city_name")
            flat["inst_state_code"] = first.get("perf_st_code")
            flat["inst_zip"] = first.get("perf_zip_code")
            flat["inst_country_code"] = first.get("perf_ctry_code")
            flat["inst_country_name"] = first.get("perf_ctry_name")
            flat["perf_inst_count"] = len(perf)
            if len(perf) > 1:
                flat["perf_inst_all"] = _json.dumps(perf)
    flat.update({"pi_full_name": None, "pi_first_name": None,
                 "pi_last_name": None, "pi_email": None,
                 "pi_count": 0, "pi_all": None})
    pis = award.get("pi", [])
    if isinstance(pis, list) and pis:
        flat["pi_full_name"] = pis[0].get("pi_full_name")
        flat["pi_first_name"] = pis[0].get("pi_first_name")
        flat["pi_last_name"] = pis[0].get("pi_last_name")
        flat["pi_email"] = pis[0].get("pi_email")
        flat["pi_count"] = len(pis)
        if len(pis) > 1:
            flat["pi_all"] = _json.dumps(pis)
    ele = award.get("pgm_ele", [])
    if isinstance(ele, list) and ele:
        flat["pgm_ele_codes"] = ",".join(
            str(p.get("pgm_ele_code", "")) for p in ele)
        flat["pgm_ele_text"] = "; ".join(
            str(p.get("pgm_ele_txt", "")) for p in ele)
        flat["pgm_ele_all"] = _json.dumps(ele)
    refs = award.get("pgm_ref", [])
    if isinstance(refs, list) and refs:
        flat["pgm_ref_codes"] = ",".join(
            str(p.get("pgm_ref_code", "")) for p in refs)
        flat["pgm_ref_text"] = "; ".join(
            str(p.get("pgm_ref_txt", "")) for p in refs)
        flat["pgm_ref_all"] = _json.dumps(refs)
    fund = award.get("app_fund", [])
    if isinstance(fund, list) and fund:
        flat["app_fund_all"] = _json.dumps(fund)
    por = award.get("por", {})
    if isinstance(por, dict):
        flat["por_email"] = por.get("por_email")
        flat["por_name"] = por.get("por_name")
    return flat


def test_nsf_matches_reference_semantics(spark, sf_dir, orders_rows):
    """Builds each fixture award as a REAL Python dict, runs the
    reference's flatten (re-typed above, json.dumps/str called
    natively), applies the object-column stringify, and compares to
    the Spark query's rows."""
    expected = {}
    for k, c, d, _p, _pri in orders_rows:
        def perf_entry(j):
            return {"perf_inst_name": f"University {j % 80}",
                    "perf_city_name": f"City {j % 31}",
                    "perf_st_code": f"S{j % 10}",
                    "perf_zip_code": f"{j % 99999:05d}",
                    "perf_ctry_code": "US",
                    "perf_ctry_name": "United States"}

        def pi_entry(j):
            return {"pi_full_name": f"Alex Researcher {j % 200}",
                    "pi_first_name": "Alex",
                    "pi_last_name": f"Researcher {j % 200}",
                    "pi_email": f"pi{j % 200}@univ.edu"}

        def ele_entry(j):
            return {"pgm_ele_code": f"{j % 9000:04d}",
                    "pgm_ele_txt": f"Program {j % 40}"}

        def ref_entry(j):
            return {"pgm_ref_code": f"{j % 9000:04d}",
                    "pgm_ref_txt": f"Reference {j % 40}"}

        amount = [k % 2000000, str(k % 900000), k % 50000 + 0.5][k % 3]
        award = {
            "awd_id": f"{k % 10000000:07d}",
            "agcy_id": "NSF",
            "tran_type": "CoopAgrmnt" if k % 8 == 0 else "Grant",
            "awd_istr_txt": "Standard Grant",
            "awd_titl_txt": f"Award title {k % 503}",
            "cfda_num": "47.049",
            "org_code": f"{k % 9999:08d}",
            "po_phone": (None if k % 11 == 0
                         else f"703292{k % 9999:04d}"),
            "po_email": (None if k % 7 == 0
                         else f"po{k % 150}@nsf.gov"),
            "po_sign_block_name": (None if k % 7 == 0
                                   else f"Officer {k % 150}"),
            "awd_eff_date": d.strftime("%m/%d/%Y"),
            "awd_exp_date": (d + timedelta(days=365 + k % 1000)
                             ).strftime("%m/%d/%Y"),
            "tot_intn_awd_amt": amount,
            "awd_amount": amount,
            "awd_min_amd_letter_date": d.strftime("%m/%d/%Y"),
            "awd_max_amd_letter_date": (d + timedelta(
                days=365 + k % 1000)).strftime("%m/%d/%Y"),
            "awd_abstract_narration": (
                None if k % 10 == 0 else f"Abstract narration {k % 211}"),
            "awd_arra_amount": k % 70000 if k % 9 == 0 else "0",
            "awd_agcy_code": "4900",
            "fund_agcy_code": "4900",
            "dir_abbr": ["MPS", "BIO", "CSE", "ENG", "GEO", "SBE",
                         "EDU"][k % 7],
            "div_abbr": f"DIV{k % 20}",
            "org_dir_long_name": f"Directorate {k % 7}",
            "org_div_long_name": f"Division {k % 20}",
            "oblg_fy": 1976 + k % 50,
            "_source_file": f"{1976 + k % 50}.zip",
            "por": ({} if k % 7 == 0 else
                    {"por_email": f"po{k % 150}@nsf.gov",
                     "por_name": f"Officer {k % 150}"}),
        }
        pform = k % 5
        if pform == 0:
            pass
        elif pform in (1, 4):
            award["perf_inst"] = perf_entry(k * 7)
        elif pform == 2:
            award["perf_inst"] = [perf_entry(k * 7)]
        else:
            award["perf_inst"] = [perf_entry(k * 7),
                                  perf_entry(k * 7 + 3)]
        nsize = k % 4
        award["pi"] = ([] if nsize == 0
                       else [pi_entry(k * 11), pi_entry(k * 11 + 5)]
                       if nsize == 2 else [pi_entry(k * 11)])
        if k % 3 == 2:
            award["pgm_ele"] = [ele_entry(k * 13), ele_entry(k * 13 + 7)]
        elif k % 3 == 1:
            award["pgm_ele"] = [ele_entry(k * 13)]
        if k % 6 > 1:
            award["pgm_ref"] = [ref_entry(k * 17)]
        if k % 2 == 1:
            award["app_fund"] = [{
                "app_code": "0100",
                "app_name": "NSF RESEARCH & RELATED ACTIVIT",
                "fund_code": f"{k % 99:02d}"}]
        flat = _nsf_flatten(award)
        # the object-column stringify (:441-448): mixed-type columns
        # render via str(); uniformly-int columns (oblg_fy, counts)
        # stay integers
        for col in ("tot_intn_awd_amt", "awd_amount", "awd_arra_amount"):
            if flat[col] is not None:
                flat[col] = str(flat[col])
        expected[(k, flat["awd_id"])] = flat

    actual = _run(spark, sf_dir, "nsf_parse_awards")
    assert len(actual) == len(expected), (len(actual), len(expected))
    by_key = {}
    for r in actual:
        by_key.setdefault(r.awd_id, []).append(r)
    for (_k, awd_id), exp in expected.items():
        cands = by_key[awd_id]
        best = [r for r in cands
                if r.awd_titl_txt == exp["awd_titl_txt"]
                and r.oblg_fy == exp["oblg_fy"]
                and r.pi_count == exp["pi_count"]
                and getattr(r, "pgm_ele_all") == exp.get("pgm_ele_all")]
        assert best, f"no row for {awd_id}"
        r = best[0]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (f"{awd_id}.{col}: {got!r} != {want!r}")


# ---------------------------------------------------------------------------
# Publishers / Keywords API builds (notebooks/publishers/
# CreatePublishersAPI.ipynb, notebooks/keywords/CreateKeywordsAPI.ipynb)
# ---------------------------------------------------------------------------


def test_publishers_api_matches_reference_semantics(spark, sf_dir,
                                                    orders_rows,
                                                    lineitem_rows):
    """Re-derives pairs, counts_by_year, the summary-stats trio (incl.
    the un-COALESCEd h_index), the top-funder-only roles dedup, and
    the churn verdicts in Python from the notebook's rules."""
    import json as _json

    # work -> (year, cited)
    works = {k: (1992 + k % 35, k % 83 + (40 if k % 17 == 0 else 0))
             for k, _c, _d, _p, _pri in orders_rows}
    pairs = set()
    for ok, _ln, sk, _pk in lineitem_rows:
        if sk % 7 in (0, 1):
            continue
        year, cited = works[ok]
        pairs.add((ok, sk % 97, year, cited))
    by_pub = {}
    for wid, pub, year, cited in pairs:
        by_pub.setdefault(pub, []).append((wid, year, cited))

    # publisher dimension (part, id <= 120, merge_into_id NULL)
    pub_ids = [p for p in range(1, 121) if p % 13 != 0]

    # roles: entity_link from nation + region
    links = []
    for n in range(25):
        if n % 2 == 0:
            links.append((f"P{(n * 4) % 97}",
                          f"F{n}" if n % 3 == 0 else f"I{n}"))
        else:
            links.append((f"I{n}", f"P{(n * 4) % 97}"))
    for r in range(5):
        links.append((f"P{(r * 8) % 97}", f"F{r + 10}"))
        links.append((f"F{r + 15}", f"P{(r * 8) % 97}"))
    inst_wc = {n: n * 11 % 500 for n in range(25)}
    fund_wc = {n: n * 13 % 400 for n in range(25)}

    actual = {r.id: r
              for r in _run(spark, sf_dir, "publishers_api_build")}
    assert sorted(actual) == sorted(pub_ids)

    for pid in pub_ids:
        r = actual[pid]
        plist = by_pub.get(pid, [])
        total_w = len(plist)
        total_c = sum(c for _w, _y, c in plist)
        assert r.works_count == total_w, (pid, "works_count")
        assert r.cited_by_count == total_c, (pid, "cited_by_count")
        # summary stats
        recent = [c for _w, y, c in plist if y >= 2024]
        want_mean = (sum(recent) / len(recent)) if recent else 0.0
        assert abs(r.ss_2yr_mean_citedness - want_mean) < 1e-12, (
            pid, "mean")
        assert r.ss_i10_index == sum(
            1 for _w, _y, c in plist if c >= 10), (pid, "i10")
        cits = sorted((c for _w, _y, c in plist), reverse=True)
        want_h = max(
            (rank for rank, c in enumerate(cits, 1) if c >= rank),
            default=0) if cits else None
        if not plist:
            assert r.ss_h_index is None, (pid, "h_index NULL quirk")
        else:
            assert r.ss_h_index == want_h, (pid, "h_index")
        # counts_by_year
        yearly = {}
        for _w, y, c in plist:
            w0, c0 = yearly.get(y, (0, 0))
            yearly[y] = (w0 + 1, c0 + c)
        want_cby = sorted(
            ({"year": y, "works_count": w, "cited_by_count": c}
             for y, (w, c) in yearly.items() if 2014 <= y <= 2026),
            key=lambda d: -d["year"])
        got_cby = _json.loads(r.counts_by_year_json)
        assert got_cby == want_cby, (pid, "counts_by_year")
        # roles: own + linked, top-funder-only dedup
        roles = [("publisher", f"https://openalex.org/P{pid}", total_w)]
        funders = []
        for a, b in links:
            partner = None
            if a == f"P{pid}":
                partner = b
            elif b == f"P{pid}":
                partner = a
            if partner is None or partner[0] == "P":
                continue
            n = int(partner[1:])
            if partner[0] == "I":
                roles.append(("institution",
                              f"https://openalex.org/{partner}",
                              inst_wc[n]))
            else:
                funders.append(("funder",
                                f"https://openalex.org/{partner}",
                                fund_wc[n]))
        if funders:
            roles.append(max(funders, key=lambda t: (t[2], ),
                             ) if len(funders) == 1 else
                         sorted(funders,
                                key=lambda t: (-t[2], t[1]))[0])
        want_roles = sorted(
            ({"role": ro, "id": i, "works_count": wc}
             for ro, i, wc in roles),
            key=lambda d: (d["role"], d["id"], d["works_count"]))
        got_roles = _json.loads(r.roles_json)
        assert got_roles == want_roles, (pid, "roles")
        # churn
        if pid % 5 == 3:
            want_churn = "new"
        elif pid % 9 == 0:
            want_churn = "changed"
        else:
            want_churn = "unchanged"
        assert r.churn == want_churn, (pid, "churn")
        assert r.updated_date == (
            "2026-08-16 00:00:00" if want_churn != "unchanged"
            else "2026-07-01 00:00:00")


def test_keywords_api_matches_reference_semantics(spark, sf_dir,
                                                  orders_rows,
                                                  lineitem_rows):
    """Re-derives the per-work keyword dedup, the rollup, the
    dimension inner-join drop (kw-70..79), and the churn verdicts."""
    cited = {k: k % 131 for k, _c, _d, _p, _pri in orders_rows}
    per_kw: dict[int, set] = {}
    for ok, _ln, _sk, pk in lineitem_rows:
        per_kw.setdefault(pk % 80, set()).add(ok)
    actual = {r.id: r for r in _run(spark, sf_dir, "keywords_api_build")}
    expected_ids = {n for n in per_kw if n < 70}
    assert set(actual) == {
        f"https://openalex.org/keywords/kw-{n}" for n in expected_ids}
    for n in sorted(expected_ids):
        r = actual[f"https://openalex.org/keywords/kw-{n}"]
        wids = per_kw[n]
        assert r.display_name == f"Keyword {n}"
        assert r.works_count == len(wids), (n, "works_count")
        assert r.cited_by_count == sum(cited[w] for w in wids), (
            n, "cited")
        assert r.works_api_url == (
            "https://api.openalex.org/works?filter=keywords.id:"
            f"keywords/kw-{n}")
        # min created over part rows (0-based keys) with % 70 == n
        offs = min(p for p in range(0, 200) if p % 70 == n)
        want_day = date(2023, 1, 1) + timedelta(days=offs % 600)
        assert r.created_date == f"{want_day.isoformat()} 00:00:00", (
            n, "created_date")
        want_churn = ("new" if n % 11 == 3
                      else "changed" if n % 7 == 0 else "unchanged")
        assert r.churn == want_churn, (n, "churn")


# ---------------------------------------------------------------------------
# princess_asturias arm (scripts/local/princess_asturias_to_s3.py)
# ---------------------------------------------------------------------------


def _pa_collapse(value):
    if not value:
        return None
    value = re.sub(r"\s+", " ", value).strip()
    value = re.sub(r"\s+([,;.:])", r"\1", value)
    return value or None


def _pa_split_laureates(text):
    """split_laureate_text re-typed (princess_asturias_to_s3.py:349-364)."""
    from openalex_walden_spark.queries.prizepattern import (
        PA_CUSTOM_SPLITS,
        PA_NO_SPLIT_EXACT,
    )

    text = _pa_collapse(text) or ""
    text = text.replace(" and and ", " and ")
    if text in PA_CUSTOM_SPLITS:
        return PA_CUSTOM_SPLITS[text]
    if text in PA_NO_SPLIT_EXACT:
        return [text]
    parts = [_pa_collapse(p) for p in re.split(r",\s+|\s+(?:and|&)\s+",
                                               text)]
    parts = [p for p in parts if p]
    return parts or [text]


def _pa_is_org(name):
    from openalex_walden_spark.queries.prizepattern import PA_ORG_TERMS

    lowered = name.lower()
    if any(term in lowered for term in PA_ORG_TERMS):
        return True
    if re.fullmatch(r"[A-Z0-9&.\- ]{3,}", name) \
            and " " not in name.strip("."):
        return True
    return False


def _pa_split_person(name, is_org):
    if not name:
        return None, None
    if is_org:
        return None, name
    src = re.sub(r",\s*(King|Queen|Prince|Princess|headed by).*$", "",
                 name)
    toks = src.split()
    sufs = {"phd", "md", "dphil", "dsc", "scd", "jr.", "sr.", "ii",
            "iii", "iv", "jr", "sr"}
    while toks and toks[-1].lower().strip(",.") in sufs:
        toks.pop()
    if not toks:
        return None, None
    if len(toks) == 1:
        return None, toks[0]
    return " ".join(toks[:-1]), toks[-1]


def _pa_slug(value):
    value = (value or "").lower()
    value = re.sub(r"[^a-z0-9]+", "-", value).strip("-")
    return value or "unknown"


def test_princess_asturias_matches_reference_semantics(spark, sf_dir,
                                                       orders_rows):
    """Re-derives the PA arm from the reference's own split/org/name
    rules (re-typed above over the real dicts), including the
    detail-title precedence and the dead 'and and' custom key."""
    cats = ["Communication and Humanities", "Social Sciences", "Arts",
            "Letters", "Scientific and Technical Research",
            "International Cooperation", "Concord", "Sports"]
    expected = {}
    for k, _c, _d, _p, _pri in orders_rows:
        year = 1981 + k % 45
        category = cats[k % 8]
        laur_text = {
            0: f"María García{k % 300}",
            1: "Bill and Melinda Gates Foundation",
            2: "Gavi, the Vaccine Alliance",
            3: "Salman Khan and the Khan Academy",
            4: f"John{k % 200} Smith and Jane Doe{k % 200}",
            5: "H. M. Husein I, King of Jordan",
            6: "CERN",
            7: f"Philharmonic Orchestra {k % 90}",
            8: f"Robert Lee{k % 150} Jr.",
            9: "Rainer Weiss, Kip S. Thorne, Barry C. Barish and and "
               "LIGO Scientific Collaboration",
        }[k % 10]
        detail_title = None if k % 4 == 0 else laur_text
        official = laur_text if k % 4 == 0 else f"Laureates Group {k}"
        detail_slug = f"laureate-{k}"
        laureates = _pa_split_laureates(detail_title or official)
        for widx, lname in enumerate(laureates, start=1):
            is_org = _pa_is_org(lname)
            given, family = _pa_split_person(lname, is_org)
            fid = "-".join([
                "princess-asturias", str(year), _pa_slug(category),
                _pa_slug(detail_slug), str(widx), _pa_slug(lname)])
            expected[fid] = {
                "award_year": str(year),
                "award_category": category,
                "award_prefix": "Princess" if year >= 2014 else "Prince",
                "prize_title": (("Princess" if year >= 2014
                                 else "Prince")
                                + f" of Asturias Award for {category}"),
                "laureate_name": lname,
                "given_name": given,
                "family_name": family,
                "laureate_is_organization": str(is_org).lower(),
                "winner_index": str(widx),
                "award_share_count": str(len(laureates)),
                "portion": (f"1/{len(laureates)}"
                            if len(laureates) != 1 else "1"),
                "citation": (None if k % 5 == 0
                             else f"For an exemplary contribution "
                                  f"{k % 67}"),
                "meta_description": (None if k % 6 == 0
                                     else f"Meta description {k % 41}"),
                "detail_title": detail_title,
                "official_laureate_text": official,
                "award_total_amount": "50000",
                "source_award_amount": None,
                "currency": "EUR",
                "landing_page_url":
                    f"https://www.fpa.es/en/laureates/{detail_slug}/",
                "profile_slug": _pa_slug(detail_slug),
            }
    actual = [r for r in _run(spark, sf_dir, "prize_pattern_parse")
              if r.member == "princess_asturias"]
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


# ---------------------------------------------------------------------------
# SCAS former-fellows arm (scripts/local/scas_former_fellows_to_s3.py)
# ---------------------------------------------------------------------------

_SC_MONTHS = ("jan", "january", "feb", "february", "march", "april",
              "may", "june", "july", "aug", "august", "sept",
              "september", "oct", "october", "nov", "november", "dec",
              "december")
_SC_TERM_WORDS = ("spring", "autumn", "fall", "winter", "summer",
                  *_SC_MONTHS)
_SC_YEAR_RE = re.compile(r"(?<!\d)(\d{4})(?!\d)")
_SC_RANGE_RE = re.compile(
    r"(?<!\d)(\d{4})\s*[-‐-―]\s*(\d{4}|\d{2})(?!\d)")


def _sc_clean(v):
    if v is None:
        return None
    t = re.sub(r"\s+", " ", str(v)).strip()
    return t or None


def _sc_final_paren(text):
    m = re.search(r"\(([^()]*)\)\s*$", text)
    if not m:
        return None
    term = _sc_clean(m.group(1))
    if not term:
        return None
    low = term.lower()
    if _SC_YEAR_RE.search(term) or any(w in low for w in _SC_TERM_WORDS):
        return term
    return None


def _sc_split_terms(term_text):
    """split_terms re-typed (scas_former_fellows_to_s3.py:321-366)."""
    def add_term(out, value):
        value = value.strip()
        if not value:
            return
        and_parts = [p.strip() for p in
                     re.split(r"\s+and\s+", value, flags=re.IGNORECASE)
                     if p.strip()]
        if (len(and_parts) == 2
                and all(_SC_YEAR_RE.search(p)
                        or any(w in p.lower() for w in _SC_TERM_WORDS)
                        for p in and_parts)):
            out.extend(and_parts)
        else:
            out.append(value)

    terms = []
    for semi in re.split(r"\s*;\s*", term_text):
        semi = semi.strip()
        if not semi:
            continue
        cps = [p.strip() for p in semi.split(",") if p.strip()]
        if len(cps) <= 1:
            add_term(terms, semi)
            continue
        i = 0
        while i < len(cps):
            part = cps[i]
            if (i + 1 < len(cps) and re.fullmatch(r"\d{4}", cps[i + 1])
                    and not _SC_YEAR_RE.search(part)):
                add_term(terms, f"{part}, {cps[i + 1]}")
                i += 2
                continue
            if (i + 1 < len(cps) and not _SC_YEAR_RE.search(part)
                    and any(w in part.lower() for w in _SC_TERM_WORDS)
                    and _SC_YEAR_RE.search(cps[i + 1])):
                add_term(terms,
                         f"{part} {_SC_YEAR_RE.search(cps[i + 1]).group(1)}")
                i += 1
                continue
            add_term(terms, part)
            i += 1
    return terms


def _sc_parsed_years(term):
    norm = re.sub(r"[‐-―]", "-", term)
    m = _SC_RANGE_RE.search(norm)
    if m:
        start = int(m.group(1))
        end_raw = m.group(2)
        if len(end_raw) == 2:
            end = int(str(start)[:2] + end_raw)
            if end < start:
                end += 100
        else:
            end = int(end_raw)
        others = [int(y) for y in _SC_YEAR_RE.findall(norm)]
        return min([start, *others]), max([end, *others])
    years = [int(y) for y in _SC_YEAR_RE.findall(norm)]
    if years:
        return min(years), max(years)
    return None, None


def _sc_split_name(name):
    parts = [p for p in _sc_clean(name).split(" ") if p] \
        if _sc_clean(name) else []
    sufs = {"phd", "md", "dphil", "dsc", "scd", "jr.", "sr.", "ii",
            "iii", "iv", "jr", "sr"}
    while parts and parts[-1].lower().strip(",.") in sufs:
        parts.pop()
    if not parts:
        return None, None
    if len(parts) == 1:
        return parts[0], None
    return " ".join(parts[:-1]), parts[-1]


def _sc_slug(value, max_len=48):
    import unicodedata
    normalized = unicodedata.normalize("NFKD", value)
    ascii_text = normalized.encode("ascii", "ignore").decode("ascii")
    s = re.sub(r"[^a-z0-9]+", "-", ascii_text.lower()).strip("-")
    return s[:max_len].strip("-") or "unknown"


def _sc_should_skip(line, in_record):
    low = line.lower()
    if low.startswith("see the bottom of the page"):
        return True
    if low.startswith("former short-term researchers/"):
        return True
    if "visiting fellowship programme" in low \
            and not re.search(r"\d{4}", low):
        return True
    if not in_record and len(line) == 1 and line.isalpha():
        return True
    return False


def _sc_section(line):
    low = line.lower()
    if low.startswith("former fellows-in-residence"):
        return "fellow_in_residence"
    if low.startswith("former short-term researchers"):
        return "short_term_researcher"
    if low.startswith("former associated researchers"):
        return "stop"
    return None


def _sc_state_machine(lines):
    """parse_source_records' line loop re-typed (:440-495); returns
    (section, buffer) pairs."""
    records, section, buf = [], None, []

    def flush():
        nonlocal buf
        if buf and section in ("fellow_in_residence",
                               "short_term_researcher"):
            records.append((section, list(buf)))
        buf = []

    for line in lines:
        heading = _sc_section(line)
        if heading:
            if buf:
                flush()
            if heading == "stop":
                section = None
                break
            section = heading
            continue
        if section is None:
            continue
        if _sc_should_skip(line, in_record=bool(buf)):
            continue
        buf.append(line)
        joined = _sc_clean(" ".join(buf)) or ""
        if _sc_final_paren(joined):
            flush()
    if buf:
        flush()
    return records


def test_scas_matches_reference_semantics(spark, sf_dir, orders_rows):
    """Reconstructs the full SCAS page from the fixture buffers, runs
    the reference's line-scan state machine over it (headings, stop
    section, index letters, skip rules, flush-on-qualifying-final-
    parenthetical), then re-derives every output field from the
    reference's parse rules and compares to the Spark rows."""
    fixture = {}
    for k, _c, _d, _p, _pri in orders_rows:
        n = k % 190
        name = {
            0: f"Erik Larsson{n}",
            1: f"Maria Gonzalez{n} PhD",
            2: f"Mononym{n}",
            3: f"Sören Lindén{n} Jr.",
            4: f"Anna-Karin Blom{n}",
        }[k % 5]
        y = 1985 + k % 30
        term_text = {
            0: f"{y}{'–' if k % 3 == 0 else '-'}{y + 1}",
            1: f"Autumn {y}",
            2: f"Spring {y}; Autumn {y + 2}",
            3: f"{y}-{(y + 1) % 100:02d}",
            4: f"Autumn, {y}",
            5: f"Spring and Autumn {y}",
        }[k % 6]
        raw_lines = [name + ("," if k % 6 == 0 else "")]
        if k % 7 == 0:
            raw_lines.append("See the bottom of the page for details")
        raw_lines.append(f"University of Uppsala {k % 40},")
        if k % 11 == 0:
            raw_lines.append("Research fellow (on leave)")
        if k % 3 == 0:
            raw_lines.append(f"Department {k % 12}")
        if k % 13 == 0:
            raw_lines.append("Visiting Fellowship Programme participant")
        raw_lines.append(f"Sweden ({term_text})")
        section = ("fellow_in_residence" if k % 2 == 0
                   else "short_term_researcher")
        profile = (None if k % 4 == 0 else
                   f"https://www.swedishcollegium.se/fellow/{k}")
        fixture[k] = (section, raw_lines, profile)

    # --- full-page replay: the machine must recover exactly the
    # fixture's per-record buffers (minus skip lines) per section
    page = ["All former fellows", "1985 - 2024",
            "Former Fellows-in-Residence"]
    fir = [k for k in sorted(fixture) if fixture[k][0].startswith("f")]
    stp = [k for k in sorted(fixture) if not fixture[k][0].startswith("f")]
    for i, k in enumerate(fir):
        if i % 10 == 0:
            page.append("A")  # index letter between records
        page.extend(fixture[k][1])
    page.append("Former Short-Term Researchers")
    for k in stp:
        page.extend(fixture[k][1])
    page.append("Former Associated Researchers")
    page.append("Junk after the stop section (Spring 2001)")
    machine = _sc_state_machine(page)
    want_buffers = [
        (fixture[k][0],
         [ln for ln in fixture[k][1]
          if not _sc_should_skip(ln, in_record=True)])
        for group in (fir, stp) for k in group
    ]
    assert machine == want_buffers

    # --- per-record expectations via the reference's parse rules
    expected = {}
    for k, (section, raw_lines, profile) in fixture.items():
        buf = [ln for ln in raw_lines
               if not _sc_should_skip(ln, in_record=True)]
        joined = _sc_clean(" ".join(buf))
        term_text = _sc_final_paren(joined)
        name = _sc_clean(buf[0].rstrip(" ,"))
        affil_text = _sc_clean(" ".join(buf[1:]))
        affil = _sc_clean(
            re.sub(r"\s*\([^()]*\)\s*$", "", affil_text or "")
            .lstrip(" ,"))
        scheme = ("SCAS Fellow-in-Residence"
                  if section == "fellow_in_residence"
                  else "SCAS Short-Term Researcher")
        label = ("Former Fellows-in-Residence"
                 if section == "fellow_in_residence"
                 else "Former Short-Term Researchers")
        given, family = _sc_split_name(name)
        for idx, term in enumerate(_sc_split_terms(term_text), 1):
            term = _sc_clean(term)
            sy, ey = _sc_parsed_years(term)
            seed = "|".join([section, name, affil or "", term, str(idx)])
            rid = hashlib.md5(seed.encode()).hexdigest()[:12]
            yp = f"{sy or 'na'}-{ey or 'na'}"
            fid = (f"scas-{section}-{yp}-{_sc_slug(name)}-"
                   f"{_sc_slug(term, 36)}-{rid}")
            desc = (f"{name} is listed by the Swedish Collegium for "
                    f"Advanced Study as {scheme} for {term}"
                    + (f"; source affiliation: {affil}." if affil
                       else "."))
            expected[fid] = {
                "fellow_name": name, "given_name": given,
                "family_name": family, "affiliation": affil,
                "term": term, "term_sequence": str(idx),
                "source_section": section, "section_label": label,
                "scheme_label": scheme,
                "funding_type": ("fellowship"
                                 if section == "fellow_in_residence"
                                 else "research"),
                "display_name": f"{scheme} {term} - {name}",
                "description": desc,
                "start_year": str(sy) if sy else None,
                "end_year": str(ey) if ey else None,
                "start_date": (f"{sy:04d}-01-01"
                               if sy is not None and ey is not None
                               else None),
                "end_date": (f"{ey:04d}-12-31"
                             if sy is not None and ey is not None
                             else None),
                "amount": None, "currency": None,
                "profile_url": profile,
                "landing_page_url": profile or
                    "https://www.swedishcollegium.se/fellows/"
                    "former-fellows/all-former-fellows",
                "source_page_title": "All former fellows",
                "source_page_year_range": "1985 - 2024",
            }

    actual = [r for r in _run(spark, sf_dir, "fellowship_directory_parse")
              if r.member == "scas"]
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.funder_award_id in expected, r.funder_award_id
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


# ---------------------------------------------------------------------------
# Hewlett arm (scripts/local/hewlett_to_s3.py)
# ---------------------------------------------------------------------------

_HW_MONTHS = ["January", "February", "March", "April", "May", "June",
              "July", "August", "September", "October", "November",
              "December"]
_HW_DATE_RE = re.compile(
    r'(January|February|March|April|May|June|July|August|September|'
    r'October|November|December)\s+(\d{1,2}),\s+(\d{4})', re.IGNORECASE)
_HW_TERM_RE = re.compile(r'(\d+(?:\.\d+)?)\s*[Mm]onths?')


def _hw_parse_meta(pieces):
    """_parse_meta's routing loop re-typed (hewlett_to_s3.py:285-306)."""
    out = {"amount_raw": None, "term_raw": None, "date_awarded_raw": None}
    for text in pieces:
        if not text:
            continue
        if text.startswith("$"):
            out["amount_raw"] = text
        elif "Term:" in text or text.lower().endswith("month") \
                or text.lower().endswith("months"):
            out["term_raw"] = text.replace("Term:", "").strip()
        elif "Awarded:" in text or "Award:" in text:
            out["date_awarded_raw"] = re.sub(
                r'(Awarded|Award):\s*', '', text).strip()
    return out


def _hw_amount(raw):
    if not raw:
        return None
    try:
        return float(raw.replace("$", "").replace(",", "").strip())
    except ValueError:
        return None


def _hw_date(raw):
    if not raw:
        return None
    m = _HW_DATE_RE.search(raw)
    if not m:
        return None
    mon = _HW_MONTHS.index(m.group(1).capitalize()) + 1
    return f"{m.group(3)}-{mon:02d}-{int(m.group(2)):02d}"


def _hw_term(raw):
    if not raw:
        return None
    m = _HW_TERM_RE.search(raw)
    return int(float(m.group(1))) if m else None


def _hw_add_months(iso, months):
    if not iso or not months:
        return None
    y, mo, d = (int(x) for x in iso.split("-"))
    new_m = mo + months
    return (f"{y + (new_m - 1) // 12:04d}-"
            f"{((new_m - 1) % 12) + 1:02d}-{min(d, 28):02d}")


def _hw_slug(s):
    return re.sub(r"[^a-z0-9]+", "-", s.lower()).strip("-")[:60]


def test_hewlett_matches_reference_semantics(spark, sf_dir, orders_rows):
    """Re-derives the meta routing (last match wins per slot), the
    amount/date/term parses, add_months with the day-28 clamp, the id
    scheme (title slug cut at 30 without re-strip, 'no-date'->'nodate',
    empty parts skipped), and the ordered -v{n} collision suffix."""
    programs = ["Economy and Society", "Education",
                "Effective Philanthropy", "Environment",
                "Gender Equity and Governance", "Performing Arts",
                "Racial Justice", "Special Projects", "U.S. Democracy"]
    prog_ids = ["24372977", "31392", "31528", "21943", "21300",
                "31521", "29057789", "31532", "70696"]
    seen = set()
    expected = {}
    for k, _c, _d, _p, _pri in sorted(orders_rows, key=lambda t: t[0]):
        pieces = []
        if k % 6 != 0:
            pieces.append(f"${k % 900 + 100},{k % 1000:03d}.00")
        if k % 11 == 0:
            pieces.append("$corrected 2,500.00")
        pieces.append({
            0: f"Term: {k % 48 + 6} Months",
            1: f"{k % 48 + 6}.0 Months",
            2: None,
            3: "1 month",
        }[k % 4])
        pieces.append({
            0: f"Awarded: March {k % 28 + 1}, {2015 + k % 10}",
            1: f"Award: July 1, {2015 + k % 10}",
            2: "Awarded: TBD",
            3: None, 4: None,
        }[k % 5])
        meta = _hw_parse_meta([p for p in pieces if p is not None])
        grantee = f"Grantee Org {k % 120}"
        program = programs[k % 9]
        title = (None if k % 7 == 0
                 else f"For general support of project {k % 45}")
        date_iso = _hw_date(meta["date_awarded_raw"])
        amount_f = _hw_amount(meta["amount_raw"])
        term_mo = _hw_term(meta["term_raw"])
        end_iso = _hw_add_months(date_iso, term_mo)
        parts = [_hw_slug(grantee), _hw_slug(program),
                 (date_iso or "no-date").replace("-", ""),
                 _hw_slug(title or "")[:30]]
        fid = "hewlett-" + "-".join(p for p in parts if p)
        if fid in seen:
            i = 2
            base = fid
            while f"{base}-v{i}" in seen:
                i += 1
            fid = f"{base}-v{i}"
        seen.add(fid)
        expected[fid] = {
            "grantee": grantee, "program": program,
            "facetwp_program_id": prog_ids[k % 9],
            "title": title, "description": (
                None if k % 5 == 0
                else f"Overview of the grant, case {k % 71}"),
            "status": "Active" if k % 2 == 0 else "Closed",
            "amount": str(amount_f) if amount_f is not None else None,
            "currency": "USD" if amount_f is not None else None,
            "term_months": (str(term_mo) if term_mo is not None
                            else None),
            "date_start": date_iso, "date_end": end_iso,
            "amount_raw": meta["amount_raw"],
            "term_raw": meta["term_raw"],
            "date_awarded_raw": meta["date_awarded_raw"],
            "landing_page_url": (
                None if k % 8 == 0
                else f"https://grantee{k % 120}.example.org/"),
            "declined": "False",
        }
    actual = [r for r in _run(spark, sf_dir, "wprest_parse_projects")
              if r.member == "hewlett"]
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.funder_award_id in expected, r.funder_award_id
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


# ---------------------------------------------------------------------------
# AOS arm (scripts/local/aos_research_awards_to_s3.py)
# ---------------------------------------------------------------------------

_AOS_PROJ_RE = re.compile(
    r"(?:Joint project title|Project title|Project)\s*:\s*[“\"]?(.+?)"
    r"(?:[”\"]?\s+Abstract\s*:|[”\"]?$)", re.IGNORECASE)


def _aos_clean(v):
    if v is None:
        return None
    t = re.sub(r"\s+", " ", str(v).replace(" ", " ")).strip()
    return t or None


def _aos_snt(value):
    name = _aos_clean(value) or ""
    name = re.sub(r"^(Drs?\.?|Dra\.?|Mr\.?|Ms\.?)\s+", "", name)
    name = re.sub(r",?\s*(Ph\.D\.|M\.Sc\.|M\.S\.|MSc|MS|PhD)\.?$", "",
                  name)
    return _aos_clean(name.strip(" ,")) or ""


def _aos_split(value):
    name = _aos_snt(value)
    parts = name.split()
    if not parts:
        return None, None
    if len(parts) == 1:
        return None, parts[0]
    return " ".join(parts[:-1]), parts[-1]


def _aos_proj(text):
    m = _AOS_PROJ_RE.search(text)
    return _aos_clean(m.group(1).strip(" “”\"")) if m else None


def _aos_slug(value):
    import unicodedata
    ascii_text = unicodedata.normalize("NFKD", value).encode(
        "ascii", "ignore").decode("ascii")
    return re.sub(r"[^a-z0-9]+", "-", ascii_text.lower()).strip("-") \
        or "unknown"


def _aos_pub(nodes):
    for _tag, text in nodes[:12]:
        if re.fullmatch(r"\d{1,2}\s+[A-Za-z]+\s+\d{4}", text):
            return text
    return None


def _aos_record(name, affiliation, project_title, scheme, year,
                amount, currency, amount_note, program_amount_text,
                url, page_title, pub_date, order):
    from openalex_walden_spark.queries.method5 import (
        AOS_KESSEL_SCHEME,
        AOS_KESSEL_URL,
        AOS_LACCR_URL,
    )

    clean_name = _aos_snt(name)
    given, family = _aos_split(clean_name)
    key = f"{year}|{scheme}|{clean_name}|{project_title or ''}"
    h = hashlib.md5(key.encode()).hexdigest()[:10]
    parts = [f"{clean_name} is listed by the American Ornithological "
             f"Society as a {scheme} recipient for {year}."]
    if project_title:
        parts.append(f"Project: {project_title}.")
    if affiliation:
        parts.append(f"Source affiliation/role: {affiliation}.")
    return {
        "funder_award_id": (f"aos-{_aos_slug(scheme)}-{year}-"
                            f"{_aos_slug(clean_name)}-{h}"),
        "display_name": f"{scheme} {year} - {clean_name}",
        "description": " ".join(parts),
        "recipient": clean_name, "given_name": given,
        "family_name": family,
        "institution": _aos_clean(affiliation),
        "project_title": _aos_clean(project_title),
        "award_year": year, "amount": amount, "currency": currency,
        "amount_note": amount_note,
        "program_amount_text": program_amount_text,
        "funder_scheme": scheme,
        "funding_type": ("fellowship" if scheme == AOS_KESSEL_SCHEME
                         else "research"),
        "landing_page_url": url,
        "program_url": (AOS_KESSEL_URL if scheme == AOS_KESSEL_SCHEME
                        else AOS_LACCR_URL),
        "source_page_title": page_title,
        "source_publication_date": pub_date,
        "source_order": str(order), "source_hash": h,
    }


def test_aos_matches_reference_semantics(spark, sf_dir, orders_rows):
    """Re-runs the reference's three page walks (re-typed verbatim:
    the heading walk with scheme transitions / skip heads / i=j jumps,
    the paragraph-Kessel walk with the Dr.-prefix gate and the
    project-required drop, and the hardcoded laccr_2023 specs) over
    the fixture node streams and compares every AOS row."""
    from openalex_walden_spark.queries.method5 import (
        AOS_KESSEL_SCHEME,
        AOS_LACCR_2023_SPECS,
        AOS_LACCR_NOTE,
        AOS_LACCR_SCHEME,
    )

    kessel_head = "Kessel Fellowships for Ornithological Research"
    laccr_head = "Latin American/Caribbean Conservation Research Grants"
    skip_heads = {kessel_head, laccr_head, "Related Posts",
                  "Leave a Reply Cancel reply"}
    expected = {}

    def heading_walk(nodes, default_scheme, year, url, page_title):
        pub = _aos_pub(nodes)
        rows = []
        scheme = default_scheme
        i = 0
        while i < len(nodes):
            tag, text = nodes[i]
            if tag == "h2" and text in skip_heads:
                if "Kessel" in text:
                    scheme = AOS_KESSEL_SCHEME
                elif "Latin American/Caribbean" in text:
                    scheme = AOS_LACCR_SCHEME
                i += 1
                continue
            if tag in ("h2", "h3") and text not in skip_heads \
                    and not text.startswith("2025 Winners"):
                name = _aos_snt(text)
                if len(name.split()) < 2 or \
                        "American Ornithological Society announces" \
                        in name:
                    i += 1
                    continue
                affiliation = None
                project = None
                j = i + 1
                if j < len(nodes) and nodes[j][0] == "p":
                    affiliation = nodes[j][1]
                    j += 1
                while j < len(nodes) and nodes[j][0] not in ("h2", "h3"):
                    found = _aos_proj(nodes[j][1])
                    if found and not project:
                        project = found
                    j += 1
                if scheme == AOS_KESSEL_SCHEME:
                    amount = ("30000" if year == "2025"
                              and "Teresa Pegan" in name else "15000")
                    currency = "USD"
                    note = ("AOS announcement states one 2025 Arctic "
                            "Kessel Fellowship was $30,000 and other "
                            "Kessel Fellowships in this corpus were "
                            "$15,000.")
                    pat = ("Kessel announcements publish exact USD "
                           "amounts.")
                else:
                    amount = currency = None
                    note = AOS_LACCR_NOTE
                    pat = "up to $5,000 USD"
                rows.append(_aos_record(
                    name, affiliation, project, scheme, year, amount,
                    currency, note, pat, url, page_title, pub,
                    len(rows) + 1))
                i = j
                continue
            i += 1
        return rows

    def para_walk(nodes, year, url, page_title):
        pub = _aos_pub(nodes)
        rows = []
        i = 0
        while i < len(nodes):
            tag, text = nodes[i]
            if tag == "p" and re.match(r"Dr\.\s+", text) \
                    and "," in text and not text.startswith("Dr. Brina"):
                name_part, affiliation = text.split(",", 1)
                project = (_aos_proj(nodes[i + 1][1])
                           if i + 1 < len(nodes) else None)
                if project:
                    rows.append(_aos_record(
                        name_part, affiliation, project,
                        AOS_KESSEL_SCHEME, year, "15000", "USD",
                        "AOS announcement states these Kessel "
                        "Fellowships were $15,000 each.", "$15,000",
                        url, page_title, pub, len(rows) + 1))
                    i += 2
                    continue
            i += 1
        return rows

    for k, _c, _d, _p, _pri in orders_rows:
        if k % 2 == 0:
            year = str(2016 + (k // 2) % 10)
            default = (AOS_LACCR_SCHEME if k % 8 == 0
                       else AOS_KESSEL_SCHEME)
            name1 = ("Dr. Teresa Pegan" if (k // 2) % 90 == 19
                     else f"Drs. Jane Smith{k}, Ph.D." if k % 4 == 0
                     else f"Ms. Emily van Dorn{k}" if k % 4 == 2
                     else f"Jane Smith{k} MSc")
            name2 = "Cher" if k % 6 == 0 else f"Carlos Mendez{k}"
            proj1 = (f"Project title: “Song learning {k}” "
                     f"Abstract: The full abstract follows."
                     if k % 3 != 0
                     else "A general congratulations paragraph.")
            proj2 = (f'Project: "Forest corridors {k}"'
                     if k % 5 != 0
                     else "Read the announcement for details.")
            nodes = [("h1", f"AOS {year} Research Awards"),
                     ("p", f"15 March {year}" if k % 5 != 0
                      else "Announcement intro text.")]
            if k % 8 == 0:
                nodes.append(("h3", f"Alex Early{k}"))
                nodes.append(("p", "Early-section recipient "
                                   "affiliation"))
            nodes += [("h2", kessel_head), ("h3", name1),
                      ("p", f"PhD Candidate, University {k}"),
                      ("p", proj1), ("h3", "Congratulations"),
                      ("h2", laccr_head), ("h3", name2),
                      ("p", f"Conservation biologist, Reserve {k}"),
                      ("p", proj2), ("h2", "Related Posts"),
                      ("p", "Some related announcements.")]
            url = (f"https://americanornithology.org/{year}"
                   f"-research-awards-{k}/")
            page_title = (f"{year} Research Awards - American "
                          f"Ornithological Society")
            rows = heading_walk(nodes, default, year, url, page_title)
        else:
            year = str(2016 + k % 10)
            nodes = [("h1", f"Kessel Fellowship Winners {year}"),
                     ("p", f"5 June {year}"),
                     ("p", f"Dr. Alan Turner{k}, University of "
                           f"Chicago"),
                     ("p", f"Project: “Migration genomics {k}”"),
                     ("p", "Dr. Brina Montoya, Example University"),
                     ("p", 'Project: "An excluded project"')]
            if k % 3 == 0:
                nodes += [("p", f"Dr. Maria Stone{k}, Cornell Lab"),
                          ("p", "An unrelated closing paragraph.")]
            url = (f"https://americanornithology.org/{year}"
                   f"-kessel-winners-{k}/")
            page_title = (f"Kessel Fellowship Winners {year} - "
                          f"American Ornithological Society")
            rows = para_walk(nodes, year, url, page_title)
        for row in rows:
            expected[row["funder_award_id"]] = row

    # laccr_2023 page (one instance)
    joint = _aos_proj("Joint project title: “Shared migration "
                      "corridors” Abstract: joint details.")
    ind = _aos_proj("Project title: “Raptor nesting in the pampas” "
                    "Abstract: details follow.")
    for i, (nm, aff, kind) in enumerate(AOS_LACCR_2023_SPECS):
        row = _aos_record(
            nm, aff, joint if kind == "joint" else ind,
            AOS_LACCR_SCHEME, "2023", None, None, AOS_LACCR_NOTE,
            "up to $5,000 USD",
            "https://americanornithology.org/2023-laccr-grantees/",
            "2023 LACCR Grantees - American Ornithological Society",
            None, i + 1)
        expected[row["funder_award_id"]] = row

    actual = [r for r in _run(spark, sf_dir, "method5_parse_awards")
              if r.member == "aos"]
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.funder_award_id in expected, r.funder_award_id
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


# ---------------------------------------------------------------------------
# Stockholm Water Prize arm (scripts/local/stockholm_water_prize_to_s3.py)
# ---------------------------------------------------------------------------


def _swp_split_name(full_name):
    """split_name re-typed (:373-397) — note the CASE-SENSITIVE degree
    compare after rstrip('.')."""
    degrees = {"PhD", "Ph.D.", "Ph.D", "MD", "M.D.", "DPhil", "ScD",
               "Jr.", "Jr", "Sr.", "Sr", "II", "III", "IV"}
    if not full_name:
        return None, None, False
    is_joint = bool(re.search(r'\s+and\s+', full_name, re.I))
    name = (re.split(r'\s+and\s+', full_name, flags=re.I)[0].strip()
            if is_joint else full_name.strip())
    name = re.sub(r'^(?:Dr\.?|Prof\.?|Professor|Mr\.?|Ms\.?|Mrs\.?|'
                  r'Sir|Dame)\s+', '', name, flags=re.I).strip()
    name = [p.strip() for p in name.replace(";", ",").split(",")][0]
    toks = name.split()
    norm = {s.rstrip(".") for s in degrees}
    while toks and toks[-1].rstrip(".") in norm:
        toks.pop()
    if not toks:
        return None, None, is_joint
    if len(toks) == 1:
        return None, toks[0], is_joint
    return " ".join(toks[:-1]), toks[-1], is_joint


def test_swp_matches_reference_semantics(spark, sf_dir, orders_rows):
    """Re-derives the country-from-name rule, the URL-slug token pop
    (incl. the joint-slug quirk), the precedence, the org detector,
    split_name, and the astype('string') renders."""
    from openalex_walden_spark.queries.prizepattern import (
        SWP_COUNTRY_TOKENS,
    )

    org_re = re.compile(
        r'\b(Department|Institute|Foundation|University|Laboratory|'
        r'Center|Centre|Agency|Society|Association|Council|Commission|'
        r'Ministry|WaterAid|Water Aid)\b', re.I)
    expected = {}
    seen = set()
    for k, _c, _d, _p, _pri in sorted(orders_rows, key=lambda t: t[0]):
        year = 1991 + k % 35
        name, urlslug = {
            0: (f"Professor Kaveh Madani{k}, Iran",
                f"professor-kaveh-madani{k}-iran"),
            1: (f"Werner Stumm{k}, Switzerland and James J. Morgan{k}"
                f", USA",
                f"werner-stumm{k}-switzerland-and-james-j-morgan{k}"
                f"-usa"),
            2: (f"Dr. Rita Colwell{k} and Johns Hopkins{k}, USA",
                f"dr-rita-colwell{k}-and-johns-hopkins{k}-usa"),
            3: ("WaterAid", "wateraid"),
            4: (f"Department of Water Affairs{k}, South Africa",
                f"department-of-water-affairs{k}-south-africa"),
            5: (f"Sir Peter Wilson{k} PhD, UK",
                f"sir-peter-wilson{k}-phd-uk"),
            6: (f"Madhav Chitale{k}", f"madhav-chitale{k}"),
            7: (f"Professor John Anthony Allan{k}, Great Britain",
                f"professor-john-anthony-allan{k}-great-britain"),
        }[k % 8]
        citation = (None if k % 9 == 0
                    else f"for pioneering water research, case {k}")
        url = (None if k % 4 == 0 else
               f"https://siwi.org/laureates/{year}-{urlslug}/")
        if (year, name.lower()) in seen:
            continue
        seen.add((year, name.lower()))
        # country from name (:281-293)
        first = re.split(r'\s+and\s+', name, maxsplit=1, flags=re.I)[0]
        tail_source = first if "," in first else name
        country_from_name = None
        if "," in tail_source:
            tail = tail_source.rsplit(",", 1)[1].strip()
            if tail and re.fullmatch(r'[A-Za-z][A-Za-z \-]{1,40}', tail):
                country_from_name = tail
        name_stripped = (first.rsplit(",", 1)[0].strip()
                         if "," in first and country_from_name
                         else first)
        joint = re.split(r'\s+and\s+', name, maxsplit=1, flags=re.I)
        if len(joint) > 1:
            name_stripped = f"{name_stripped} and {joint[1].strip()}"
        # url slug/country (:303-344)
        slug = country = None
        if url:
            m = re.search(r'/laureates/(\d{4})-(.+?)/?$', url)
            if m:
                t = m.group(2)
                base = t.split("-and-")[-1] if "-and-" in t else t
                toks = base.split("-")
                ctoks = []
                while toks and toks[-1].lower() in SWP_COUNTRY_TOKENS:
                    ctoks.insert(0, toks.pop())
                if ctoks:
                    country = " ".join(
                        x.upper() if x.lower() in {"usa", "uk"}
                        else x.capitalize() for x in ctoks)
                slug = "-".join(toks) if toks else None
        if country_from_name:
            country = country_from_name
        is_org = bool(org_re.search(name)) and \
            not name.lower().startswith(("dr", "prof", "sir"))
        if is_org:
            given = family = None
            is_joint = False
            kind = "organization"
        else:
            given, family, is_joint = _swp_split_name(name_stripped
                                                      or name)
            kind = "individual"
        seed = slug or re.sub(r'[^a-z0-9]+', '-',
                              name.lower()).strip('-')[:60]
        fid = f"stockholm-water-prize-{year}-{seed}"
        expected[fid] = {
            "award_year": str(year), "laureate_name": name,
            "given_name": given, "family_name": family,
            "country": country, "recipient_kind": kind,
            "is_joint": str(is_joint), "citation": citation,
            "display_name": f"Stockholm Water Prize {year} — {name}",
            "description": citation,
            "start_date": f"{year}-01-01", "end_date": f"{year}-12-31",
            "landing_page_url": url, "slug_from_url": slug,
            "declined": "False",
        }
    actual = [r for r in _run(spark, sf_dir, "prize_pattern_parse")
              if r.member == "stockholm_water_prize"]
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.funder_award_id in expected, r.funder_award_id
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


# ---------------------------------------------------------------------------
# Hertz fellows-directory arm (scripts/local/hertz_to_s3.py)
# ---------------------------------------------------------------------------


def _hz_split(full_name):
    """split_name re-typed (hertz_to_s3.py:393-418) — case-sensitive
    degree compare after rstrip('.')."""
    degrees = {"PhD", "Ph.D.", "Ph.D", "MD", "M.D.", "DPhil", "ScD",
               "Jr.", "Jr", "Sr.", "Sr", "II", "III", "IV", "Esq.",
               "Esq"}
    if not full_name:
        return None, None
    name = full_name.strip()
    name = [p.strip() for p in name.replace(";", ",").split(",")][0]
    toks = name.split()
    norm = {s.rstrip(".") for s in degrees}
    while toks and toks[-1].rstrip(".") in norm:
        toks.pop()
    if not toks:
        return None, None
    if len(toks) == 1:
        return None, toks[0]
    return " ".join(toks[:-1]), toks[-1]


def test_hertz_matches_reference_semantics(spark, sf_dir, orders_rows):
    """Re-derives the slug keep-first dedup (incl. the sparse-orderkey
    duplicate lattice), the §2.4.1 split variant, the display/
    description renders, and the constant-amount five-year dates."""
    expected = {}
    seen_slugs = set()
    for k, _c, _d, _p, _pri in sorted(orders_rows, key=lambda t: t[0]):
        slug = f"fellow-{k - 1 if k % 17 == 0 else k}"
        if slug in seen_slugs:
            continue
        seen_slugs.add(slug)
        full_name = {
            0: f"Erich Jarvis{k}, PhD",
            1: f"Ana María Rey{k}",
            2: f"John Smith{k} Jr.",
            3: f"Cher{k}",
            4: f"Robert Oppenheimer{k}, Esq.",
        }[k % 5]
        year = 1963 + k % 62
        position = (None if k % 6 == 0
                    else f"Professor of Physics, MIT {k % 30}")
        expertise = {
            0: None, 1: "Applied Physics",
            2: f"Biophysics|Neuroscience {k % 9}",
            3: "AI|Quantum Computing|Materials",
        }[k % 4]
        given, family = _hz_split(full_name)
        parts = []
        if position:
            parts.append(position)
        if expertise:
            parts.append("Field(s): " + expertise.replace("|", ", "))
        expected[f"hertz-{slug}-{year}"] = {
            "slug": slug, "fellow_name": full_name,
            "given_name": given, "family_name": family,
            "start_year": str(year),
            "current_position": position, "expertise": expertise,
            "display_name": f"Hertz Fellowship — {full_name} ({year})",
            "description": ". ".join(parts) if parts else None,
            "amount": "250000.0", "currency": "USD",
            "start_date": f"{year}-01-01",
            "end_date": f"{year + 4}-12-31",
            "profile_url":
                f"https://www.hertzfoundation.org/people/{slug}/",
            "thumbnail_url": (
                None if k % 3 == 0 else
                f"https://cdn.hertzfoundation.org/thumb{k}.jpg"),
            "landing_page_url": None,
            "declined": "False",
        }
    actual = [r for r in _run(spark, sf_dir, "fellowship_directory_parse")
              if r.member == "hertz"]
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.funder_award_id in expected, r.funder_award_id
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


# ---------------------------------------------------------------------------
# PCAARRD GIA transparency-PDF parse
# (scripts/local/pcaarrd_to_s3.py:123-163, 209-255, 318-569)
# ---------------------------------------------------------------------------

_PC_MOJIBAKE = {
    "Ã¢â‚¬â„¢": "'",
    "Ã¢â‚¬œ": '"',
    "Ã±": "n",
    "€¢": "-",
    "ﬁ": "fi",
    "ﬂ": "fl",
}

_PC_DATE_AMOUNT = re.compile(
    r"(?P<start>\d{1,2}-[A-Z][a-z]{2}-\d{2,4})\s+"
    r"(?P<end>\d{1,2}-[A-Z][a-z]{2}-\d{2,4})\s+"
    r"(?P<status>[A-Za-z][A-Za-z /-]*?)\s+"
    r"(?P<total>-|\d[\d,]*(?:\.\d+)?)\s+"
    r"(?P<gia>-|\d[\d,]*(?:\.\d+)?)\s*$")
_PC_KRA = re.compile(
    r"^(?:KRA\s*\d+|Rapid\b|Poverty\b|Integrity\s+of\s+the\s+environment|"
    r"Global\s+competitiveness|Competitive\b|Human\s+capital|"
    r"Science,\s*technology|Environmental\s+integrity|Sustainable\b|"
    r"Good\s+governance|Climate\b)", re.IGNORECASE)
_PC_DESC = re.compile(
    r"^(?:The\s+(?:project|program|study)|This\s+(?:project|program|study)|"
    r"The\s+general\s+objective|General:|Specifically,|To\s+)",
    re.IGNORECASE)
_PC_OUT = re.compile(
    r"^(?:Publication|Publications|Patent|Patents|Product|Products|People|"
    r"Place|Places|Policy|Expected|Y1|Year\s+\d|Total:)", re.IGNORECASE)
_PC_AG_KW = re.compile(
    r"\b(?:University|College|Institute|Center|Centre|Department|Bureau|"
    r"School|Council|Authority|Corporation|Agency|Foundation|Research|"
    r"DOST|UPLB|MMSU|ASSCAT|BSU|VSU|USM|CLSU|NVSU|PCA|RMC|Inc\.|Corp\.)\b",
    re.IGNORECASE)
_PC_BOUND = re.compile(
    r"\b(?:Farmers|Researchers|Students|LGU|LGUs|Policy|Industry|"
    r"Beneficiaries|Extension|Stakeholders|Communities|Women|Men)\b"
    r"|\b(?:farmers|researchers|students|stakeholders|processors|traders)\b",
    re.IGNORECASE)


def _pc_clean(v):
    if v is None:
        return None
    t = str(v)
    for old, new in _PC_MOJIBAKE.items():
        t = t.replace(old, new)
    t = t.replace("\x0c", " ")
    t = re.sub(r"\s+", " ", t).strip()
    return t or None


def _pc_strip(lines):
    out = []
    for raw in lines:
        line = _pc_clean(raw)
        if not line:
            continue
        if line.startswith("FY ") and "PCAARRD LIST" in line:
            continue
        if "Program Title Project Title Key Result Areas" in line:
            continue
        if line in {"December 31,", "Total Project", "Cost", "GIA"}:
            continue
        if re.match(r"^20\d{2}'?$", line):
            continue
        if re.match(r"^Page \d+ of \d+$", line):
            continue
        out.append(line)
    return out


def _pc_money(v):
    if not v:
        return None
    if v.strip() == "-":
        return None
    cleaned = v.replace(",", "").strip()
    try:
        return f"{float(cleaned):.2f}".rstrip("0").rstrip(".")
    except ValueError:
        return _pc_clean(v)


def _pc_date(v):
    from datetime import datetime
    v = v.strip()
    for fmt in ("%d-%b-%y", "%d-%b-%Y"):
        try:
            return datetime.strptime(v, fmt).strftime("%Y-%m-%d")
        except ValueError:
            continue
    return None


def _pc_nk(v):
    t = _pc_clean(v) or ""
    t = t.casefold()
    t = re.sub(r"[^a-z0-9]+", " ", t)
    return re.sub(r"\s+", " ", t).strip()


def _pc_split_prog(pre):
    lines = [x for x in pre if x]
    if not lines:
        return None, None, None
    pidx = None
    for i, line in enumerate(lines):
        if re.match(r"^(?:Project|Study|Component|Sub-?project)\b", line,
                    re.I):
            pidx = i
            break

    def strip_emb(t):
        if not t:
            return t
        return _pc_clean(re.split(
            r"\b(?:Poverty\s+reduction|Rapid,?\s+inclusive|"
            r"Integrity\s+of\s+the\s+environment|Global\s+competitiveness|"
            r"Competitive\s+and\s+sustainable|Human\s+capital|"
            r"Science,\s*technology|Good\s+governance)\b",
            t, maxsplit=1, flags=re.IGNORECASE)[0])

    if pidx is not None:
        prog = _pc_clean(" ".join(lines[:pidx]))
        proj = strip_emb(_pc_clean(" ".join(lines[pidx:])))
    else:
        prog = None
        proj = strip_emb(_pc_clean(" ".join(lines)))
    comb = _pc_clean(" - ".join(x for x in (prog, proj) if x))
    return prog, proj, comb


def _pc_split_kra(lines, kidx):
    tail = lines[kidx:]
    if not tail:
        return None, None, []
    didx = None
    for i, line in enumerate(tail):
        if i == 0:
            continue
        if _PC_DESC.search(line):
            didx = i
            break
    if didx is None:
        didx = min(2, len(tail))
    kra = _pc_clean(" ".join(tail[:didx]))
    rem = tail[didx:]
    oidx = None
    for i, line in enumerate(rem):
        if _PC_OUT.search(line):
            oidx = i
            break
    if oidx is None:
        oidx = min(len(rem), 8)
    return kra, _pc_clean(" ".join(rem[:oidx])), rem[oidx:]


def _pc_agency(lines):
    if not lines:
        return None, None
    tail = [x for x in lines[-35:] if x]
    best = None
    for i in range(len(tail) - 1, -1, -1):
        line = tail[i]
        if _PC_OUT.search(line):
            continue
        if _PC_AG_KW.search(line) or re.match(r"^[A-Z][A-Z&./ -]{1,25}\b",
                                              line):
            best = i
            break
    if best is None:
        return None, _pc_clean(" ".join(tail[-6:]))
    parts = [tail[best]]
    for line in tail[best + 1:best + 3]:
        if line.startswith(("—", "-", "€¢", "•")):
            break
        if _PC_BOUND.search(line):
            break
        if _PC_OUT.search(line):
            break
        if len(_pc_clean(" ".join(parts + [line])) or "") <= 180:
            parts.append(line)
    agency = _pc_clean(" ".join(parts))
    if agency:
        m = re.match(r"^([A-Z][A-Z&./-]{1,20})\s+(.+)$", agency)
        if m and _PC_BOUND.search(m.group(2)):
            agency = m.group(1)
        agency = re.split(r"\s+[—•]\s+|\s+€¢\s+",
                          agency, maxsplit=1)[0]
        agency = re.split(_PC_BOUND, agency, maxsplit=1)[0]
        agency = _pc_clean(agency)
        if agency and (len(agency) > 180 or re.search(
                r"\b(?:findings|policies|programs|services|"
                r"support sustainable|use the study)\b", agency, re.I)):
            agency = None
    benef = tail[best + len(parts):]
    return agency, _pc_clean(" ".join(benef[-10:]))


_PC_MON = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
           "Oct", "Nov", "Dec"]


def _pc_fixture(k):
    c = k // 8
    s1 = ["FY 2021  PCAARRD LIST OF GIA PROJECTS",
          "Program Title Project Title Key Result Areas Summary",
          "December 31,", f"Page {1 + c % 40} of 99", "2020", None][c % 6]
    s2 = None if c % 4 == 0 else \
        f"Program on sustainable production systems {c}"
    s2b = ("for inclusive rural development"
           if (c % 10 == 0 and c % 4 != 0) else None)
    if c % 5 == 4:
        s3 = None
    else:
        base = {
            0: f"Project 1. Improving feed efficiency protocols {c}",
            1: "Study 2. Genomic marker discovery of pata"
               "Ã±" f"i beans {c}",
            2: f"Sub-project on aquatic feed formulation {c}",
        }.get(c % 5, f"Component 1 nutrient mapping survey {c}")
        s3 = (base + " Poverty reduction and food security"
              if c % 7 == 0 else base)
    s4 = ["KRA 1", "Rapid, inclusive and sustained economic growth",
          "Poverty reduction and empowerment of the poor",
          f"Climate change adaptation track {c % 3}",
          "Global competitiveness of Philippine products", None][c % 6]
    s5 = {0: "The project aims to improve ﬁ" f"eld yield outcomes {c}",
          1: f"This study evaluates \x0c field protocols {c}",
          2: "To develop integrated ﬂ"
             f"ood-resilient farming systems {c}",
          3: f"Baseline profiling of smallholder farms {c}"}[c % 4]
    s6 = f"and increase\xa0household  incomes in region {c % 15}"
    s7 = None if c % 11 == 0 else \
        [f"Publications: {c % 4} papers", "Expected outputs for Y1",
         f"Total: {c % 9} outputs"][c % 3]
    s8 = f"Patents filed and products {c % 3}" if c % 4 == 0 else None
    s9 = ["University of the Philippines Los Banos campus consortium "
          "with the Philippine Council for Agriculture Aquatic and "
          "Natural Resources Research and Development regional network "
          f"offices and stations {c}",
          f"Research Institute providing findings to policies {c % 20}",
          "UPLB Farmers and traders in Luzon",
          f"Institute of Plant Breeding {c % 5} — satellite "
          "stations cluster",
          "Bureau of Soils serving Farmers in the uplands",
          "no implementing agency recorded"][c % 6]
    s10 = ["ACME R&D STATION", "Farmers and fisherfolk groups",
           "• community partner network",
           f"Products and policy briefs for Y{1 + c % 3}",
           "of the northern cluster zone"][c % 5]
    s11 = [f"Farmers and LGUs in Region {c % 12}",
           f"smallholder processors and traders {c % 9}",
           f"Extension workers and students {c % 7}"][c % 3]
    yr = 2018 + k % 8
    st = ["Ongoing", "Completed", "On-going / Extended", "Terminated"][k % 4]
    tot = ["-", "12,345.67", "98,765", f"{1000 + k % 9000}.5",
           "3,000,000.00"][k % 5]
    gia = ["-", f"{500 + k % 400},000.00", "1,250.75"][k % 3]
    meta = (("Region IV-A cooperators " if c % 9 == 0 else "")
            + f"{10 + c % 19}-{_PC_MON[c % 12]}-{19 + c % 5} "
            + f"{10 + (k + 3) % 19 if False else 10 + (c + 3) % 19}"
            + f"-{_PC_MON[(c + 5) % 12]}-{2022 + c % 4}  {st} {tot}  {gia}")
    lines = [x for x in (s1, s2, s2b, s3, s4, s5, s6, s7, s8, s9, s10, s11)
             if x is not None]
    return c, yr, lines, meta


def _pc_parse_block(k):
    """parse_raw_text (pcaarrd_to_s3.py:458-544) over one fixture block."""
    c, yr, raw_lines, meta_raw = _pc_fixture(k)
    stripped = _pc_strip(raw_lines + [meta_raw])
    blocks, current = [], []
    for line in stripped:
        m = _PC_DATE_AMOUNT.search(line)
        if m:
            current.append(line[:m.start()].rstrip())
            blocks.append((m.groupdict(), current))
            current = []
        else:
            current.append(line)
    assert len(blocks) == 1, (k, stripped)
    meta, block_lines = blocks[0]
    block_lines = _pc_strip(block_lines)
    kidx = None
    for i, line in enumerate(block_lines):
        if _PC_KRA.search(line):
            kidx = i
            break
    if kidx is None:
        pre, kra, desc, after = block_lines[:], None, None, []
    else:
        pre = block_lines[:kidx]
        kra, desc, after = _pc_split_kra(block_lines, kidx)
    prog, proj, comb = _pc_split_prog(pre)
    agency, benef = _pc_agency(after)
    display = proj or comb
    if not display:
        return None
    start = _pc_date(meta["start"])
    end = _pc_date(meta["end"])
    key = "|".join([_pc_nk(display), _pc_nk(agency), start or "", end or ""])
    # DEVIATION mirrored from the port: sha256[:16], not sha1 (the
    # DuckDB oracle has no sha1); the key input is byte-faithful.
    h = hashlib.sha256(key.encode("utf-8")).hexdigest()[:16]
    return {
        "funder_award_id": f"pcaarrd-{h}",
        "source_year": str(yr), "source_row_number": str(k),
        "source_title":
            f"{yr} DOST-PCAARRD List of Grants in Aid (GIA) Projects",
        "source_url":
            f"https://www.pcaarrd.dost.gov.ph/files/gia_{yr}.pdf",
        "display_name": display, "program_title": prog,
        "project_title": proj, "program_project_text": comb,
        "key_result_area": kra, "description": desc,
        "source_implementing_agency": agency, "beneficiaries": benef,
        "start_date": start, "end_date": end,
        "start_date_raw": meta["start"], "end_date_raw": meta["end"],
        "status": _pc_clean(meta["status"]),
        "amount": _pc_money(meta["total"]), "currency": "PHP",
        "total_project_cost": _pc_money(meta["total"]),
        "pcaarrd_gia_for_source_year": _pc_money(meta["gia"]),
        "_yr": yr, "_k": k,
    }


def test_pcaarrd_matches_reference_semantics(spark, sf_dir, orders_rows):
    import json as _json
    rows = [r for r in (_pc_parse_block(k) for k, *_ in orders_rows)
            if r is not None]
    # dedupe_project_rows (pcaarrd_to_s3.py:547-569)
    grouped = {}
    for r in rows:
        grouped.setdefault(r["funder_award_id"], []).append(r)
    expected = {}
    for aid, group in grouped.items():
        group = sorted(group, key=lambda r: (r["_yr"], r["_k"]))
        latest = dict(group[-1])
        years = sorted({r["source_year"] for r in group}, key=int)
        gia_by_year = {r["source_year"]: r["pcaarrd_gia_for_source_year"]
                       for r in group
                       if r.get("pcaarrd_gia_for_source_year")}
        latest["source_years"] = ",".join(years)
        latest["gia_by_source_year_json"] = _json.dumps(
            gia_by_year, ensure_ascii=False, sort_keys=True)
        latest["source_row_count_before_dedupe"] = str(len(group))
        latest.pop("_yr"), latest.pop("_k")
        expected[aid] = latest
    actual = _run(spark, sf_dir, "pcaarrd_parse_projects")
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.funder_award_id in expected, r.funder_award_id
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


def test_pcaarrd_rule_tables_match_reference():
    """AST-pin the port's rules-as-data against pcaarrd_to_s3.py: the
    mojibake map and the six named regex vocabularies (with the
    documented (?i)-for-re.IGNORECASE and named-group-drop
    transformations)."""
    import ast
    import os

    ref = "/root/reference/scripts/local/pcaarrd_to_s3.py"
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    from openalex_walden_spark.queries import pcaarrd as port

    with open(ref, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    pats, moji = {}, None
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)):
            continue
        name = node.targets[0].id
        if name == "replacements":
            moji = ast.literal_eval(node.value)
        elif ((name.endswith("_RE") or name == "AGENCY_KEYWORDS")
                and isinstance(node.value, ast.Call)):
            pat = ast.literal_eval(node.value.args[0])
            flags = ast.unparse(node.value.args[1]) \
                if len(node.value.args) > 1 else ""
            pats[name] = (pat, "IGNORECASE" in flags)

    assert moji == dict(port._MOJIBAKE)

    def unesc(s):
        return s.replace("\\\\", "\\")

    # DATE_AMOUNT: named groups dropped, no flag
    ref_pat, ci = pats["DATE_AMOUNT_RE"]
    assert not ci
    assert re.sub(r"\(\?P<[^>]+>", "(", ref_pat) == \
        unesc(port._DATE_AMOUNT)
    for ref_name, port_pat in [
            ("KRA_START_RE", port._KRA_START),
            ("DESCRIPTION_START_RE", port._DESC_START),
            ("OUTPUT_START_RE", port._OUTPUT_START),
            ("AGENCY_KEYWORDS", port._AGENCY_KW),
            ("BENEFICIARY_BOUNDARY_RE", port._BOUNDARY)]:
        ref_pat, ci = pats[ref_name]
        assert ci, ref_name
        assert "(?i)" + ref_pat == unesc(port_pat), ref_name


# ---------------------------------------------------------------------------
# RFBR legacy-portal projects parse
# (scripts/local/rfbr_to_s3.py:153, 229-321, 433-450, 457-474, 540-594)
# ---------------------------------------------------------------------------

_RF_LIST_ROW = re.compile(
    r'<a href="/project_search/(\d+)/" class="link">(.*?)</a>'
    r'<div class="proj_more">(.*?)</div></td><td>([^<]*)</td>', re.DOTALL)
_RF_MORE = re.compile(r'([^:<>]+):\s*<b>(.*?)</b>', re.DOTALL)
_RF_DET_FIELD = re.compile(
    r'<td class="projects_th">([^<]+):</th><td>(.*?)</td>', re.DOTALL)
_RF_DET_TITLE = re.compile(r'<h1 class="page_title"[^>]*>(.*?)</h1>',
                           re.DOTALL)
_RF_DET_ABS = re.compile(
    r'<h2 class="small_title">Аннотация к заявке:</h2>'
    r'(.*?)(?:<h2|<div class="col-lg-3|<footer|</div>)', re.DOTALL)
_RF_DEGREE = re.compile(
    r",\s*(?:Академик|Член-корреспондент|Доктор|Кандидат|Профессор|Доцент|"
    r"без\s+ученой\s+степени|PhD|Ph\.D\.?).*$", re.I | re.DOTALL)
_RF_BASE = re.compile(r"^(\d{2}-\d{2}-\d{4,6})")


def _rf_clean(s):
    from html import unescape
    s = re.sub(r"<br\s*/?>", " ", s)
    s = re.sub(r"<[^>]+>", " ", s)
    s = unescape(s)
    s = s.replace("\xa0", " ")
    return re.sub(r"\s+", " ", s).strip()


def _rf_split_pi(pi_raw):
    if not pi_raw:
        return None, None
    nm = _RF_DEGREE.sub("", pi_raw).strip().strip(",").strip()
    if not nm:
        return None, None
    toks = nm.split()
    if len(toks) == 1:
        return None, toks[0]
    return " ".join(toks[1:]), toks[0]


def _rf_fixture(k):
    g = k // 3
    seeded = g % 3 != 0
    gn_base = f"{13 + g % 7:02d}-{1 + g % 49:02d}-{10000 + g}"
    gn_cell = (" " if k % 19 == 0
               else gn_base + " а" if k % 11 == 0 else gn_base)
    title = ["Исследование процессов &laquo;синтеза&raquo; <br/> серия "
             f"{k}",
             f"Механизмы &amp; динамика явлений {k}",
             f"Модели  климата&nbsp;региона {k}",
             f"Структура <i>белков</i> группы {k}"][k % 4]
    more = ""
    if k % 13 != 0:
        more += f"Год проведения: <b>{1994 + k % 26} год</b>"
    if k % 4 != 0:
        more += f"Область научного знания: <b>0{1 + k % 8} Биология</b>"
    if k % 3 != 0:
        more += f"Тип конкурса: <b>Инициативные проекты {k % 5}</b>"
    if k % 5 == 0:
        more += "Статус заявки: <b>не поддержана</b>"
    elif k % 5 != 1:
        more += "Статус заявки: <b> поддержана </b>"
    row_html = (f'<a href="/project_search/{100000 + k}/" class="link">'
                f'{title}</a><div class="proj_more">{more}</div></td>'
                f'<td>{gn_cell}</td>')
    return g, seeded, row_html


def _rf_detail_html(k, gn):
    if k % 17 == 0:
        return None
    pi = [f"Иванов Иван&nbsp;Иванович {k}",
          "Петрова Анна Сергеевна, Доктор физико-математических наук "
          f"{k}",
          "Сидоров",
          f"Кузнецов П. А., без ученой степени {k}", ""][k % 5]
    parts = ['<h1 class="page_title">Проект</h1>',
             f'<td class="projects_th">Номер гранта:</th><td>{gn}</td>']
    if k % 5 != 4:
        parts.append('<td class="projects_th">Руководитель:</th>'
                     f'<td>{pi}</td>')
    if k % 6 != 0:
        parts.append('<h2 class="small_title">Аннотация к заявке:</h2>'
                     f'<p>Работа посвящена &amp; изучению задачи {k}.</p>')
    parts.append('<h2 class="small_title">Статус</h2>')
    return "".join(parts)


def test_rfbr_matches_reference_semantics(spark, sf_dir, orders_rows):
    # parse_listing (rfbr:253-278) per fixture row
    listed = []
    for k, *_ in orders_rows:
        g, seeded, row_html = _rf_fixture(k)
        norm = re.sub(r"\s+", " ", row_html)
        m = _RF_LIST_ROW.search(norm)
        assert m, k
        pid, title, more, gn = m.groups()
        fields = {_rf_clean(lbl): _rf_clean(val)
                  for lbl, val in _RF_MORE.findall(more)}
        year = None
        ym = re.search(r"(\d{4})", fields.get("Год проведения", ""))
        if ym:
            year = ym.group(1)
        gn = _rf_clean(gn)
        if not gn:
            continue
        listed.append({"k": k, "seeded": seeded, "id": str(100000 + k),
                       "gn": gn, "title": _rf_clean(title), "year": year,
                       "area": fields.get("Область научного знания")
                       or None,
                       "contest": fields.get("Тип конкурса") or None,
                       "status": fields.get("Статус заявки") or None})
    # load_listing_rows keep-earliest (rfbr:433-450); our fixture k-order
    # is deterministic, years distinct within a grant-number group
    best = {}
    for row in sorted(listed, key=lambda r: r["k"]):
        prev = best.get(row["gn"])
        if prev is None or (row["year"] or "9999") < (prev["year"]
                                                      or "9999"):
            best[row["gn"]] = row
    expected = {}
    for gn, r in best.items():
        if (r["status"] or "").strip() != "поддержана":
            continue
        det = {}
        if r["seeded"]:
            html = _rf_detail_html(r["k"], gn)
            if html is not None:
                tm = _RF_DET_TITLE.search(html)
                fields = {_rf_clean(lbl): _rf_clean(body)
                          for lbl, body in _RF_DET_FIELD.findall(html)}
                if tm and fields.get("Номер гранта"):
                    am = _RF_DET_ABS.search(html)
                    det = {"pi_raw": fields.get("Руководитель") or None,
                           "abstract": _rf_clean(am.group(1))
                           if am else None}
        given, family = _rf_split_pi(det.get("pi_raw") or "")
        expected[gn] = {
            "display_name": r["title"],
            "description": det.get("abstract") or None,
            "lead_pi_raw": det.get("pi_raw") or None,
            "lead_given_name": given, "lead_family_name": family,
            "research_area": r["area"], "funder_scheme": r["contest"],
            "status": "поддержана", "start_year": r["year"],
            "internal_id": r["id"],
            "landing_page_url":
                f"https://www.rfbr.ru/project_search/{r['id']}/",
        }
    actual = _run(spark, sf_dir, "rfbr_parse_projects")
    assert len(actual) == len(expected), (len(actual), len(expected))
    for row in actual:
        assert row.funder_award_id in expected, row.funder_award_id
        exp = expected[row.funder_award_id]
        for col, want in exp.items():
            got = getattr(row, col)
            assert got == want, (
                f"{row.funder_award_id}.{col}: {got!r} != {want!r}")


def test_rfbr_rule_tables_match_reference():
    """AST-pin the port's regex vocabulary against rfbr_to_s3.py."""
    import ast
    import os

    ref = "/root/reference/scripts/local/rfbr_to_s3.py"
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    from openalex_walden_spark.queries import rfbr as port

    with open(ref, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    pats = {}
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
                and isinstance(node.value, ast.Call)
                and getattr(node.value.func, "attr", "") == "compile"):
            pats[node.targets[0].id] = ast.literal_eval(node.value.args[0])

    def unesc(s):
        return s.replace("\\\\", "\\")

    assert pats["_LIST_ROW_RE"] == unesc(port._LIST_ROW)
    assert pats["_DETAIL_TITLE_RE"] == unesc(port._DETAIL_TITLE)
    assert pats["_DETAIL_ABSTRACT_RE"] == unesc(port._DETAIL_ABSTRACT)
    assert pats["GRANT_NUM_BASE_RE"] == unesc(port._GRANT_BASE)
    # degree tail: port carries (?is) inline for re.I | re.DOTALL
    assert pats["_RU_DEGREE_RE"] == unesc(port._RU_DEGREE)
    # detail-field grammar: port extracts per label from the same shape
    assert pats["_DETAIL_FIELD_RE"] == \
        '<td class="projects_th">([^<]+):</th><td>(.*?)</td>'
    assert port._DETAIL_FIELD_TMPL == \
        '<td class="projects_th">LABEL:</th><td>(.*?)</td>'


# ---------------------------------------------------------------------------
# MJFF funded-studies parse
# (scripts/local/mjff_to_s3.py:131-158, 242-251, 434-446, 459-553)
# ---------------------------------------------------------------------------

_MJ_SUFFIXES = {"phd", "md", "dphil", "dsc", "scd", "jr.", "sr.", "ii",
                "iii", "iv", "jr", "sr"}


def _mj_clean(v):
    from html import unescape
    if v is None:
        return None
    t = unescape(str(v)).replace("\xa0", " ")
    t = re.sub(r"\s+", " ", t).strip()
    return t or None


def _mj_split(name):
    if not name:
        return None, None
    toks = name.split()
    while toks and toks[-1].lower().strip(",.") in _MJ_SUFFIXES:
        toks.pop()
    if not toks:
        return None, None
    if len(toks) == 1:
        return None, toks[0]
    return " ".join(toks[:-1]), toks[-1]


def _mj_prog_year(value):
    text = _mj_clean(value)
    if not text:
        return None, None
    m = re.match(r"^(?P<program>.+?),\s*(?P<year>\d{4})$", text)
    if m:
        return _mj_clean(m.group("program")), m.group("year")
    year = re.search(r"\b(19|20)\d{2}\b", text)
    program = _mj_clean(re.sub(r",?\s*\b(19|20)\d{2}\b", "", text))
    return program, year.group(0) if year else None


def test_mjff_matches_reference_semantics(spark, sf_dir, orders_rows):
    import json as _json
    B = "https://www.michaeljfox.org"
    expected = {}
    for k, *_ in orders_rows:
        slug = f"lrrk2-study-{k}"
        meta_raw = [None,
                    f"Edmond J. Safra Core Programs, {2010 + k % 10}",
                    f"Therapeutic Pipeline Program {2015 + k % 9} "
                    "extension",
                    "Priority Target Program",
                    f"Computational  Science, {1998 + k % 4}"][k % 5]
        meta = _mj_clean(meta_raw)
        program0, year0 = _mj_prog_year(meta)
        title = _mj_clean("Alpha-synuclein &amp; LRRK2&nbsp;kinase "
                          f"study {k}")
        summary = (None if k % 4 == 0 else _mj_clean(
            f"This project examines tau  pathology cohort {k % 90}"))
        name1 = ["James P. Eisenstein PhD", "Sara Lee Jr.", "Chen",
                 "Maria del Carmen Ruiz MD", "Robert Oduya, MIT"][k % 5]
        name2 = "Liam Ortiz PhD MD"
        rurl1 = f"{B}/researcher/res-{k}-1"
        rurl2 = f"{B}/researcher/res-{k}-2"
        n_listing, n_detail = k % 3, k % 4
        listing = ([] if n_listing == 0 else
                   [{"name": name1, "url": rurl1, "slug": f"res-{k}-1"}]
                   + ([] if n_listing == 1 else
                      [{"name": name2, "url": rurl2,
                        "slug": f"res-{k}-2"}]))
        rloc1 = ("Boston, MA" if n_detail in (1, 3)
                 else "Lund, Sweden" if n_detail == 2 else None)
        if n_detail == 0:
            detail_res = []
        elif n_detail == 2:
            detail_res = [
                {"name": name1, "url": None, "slug": None,
                 "location": rloc1},
                {"name": name2, "url": rurl2, "slug": f"res-{k}-2",
                 "location": "Kyoto, Japan"}]
        else:
            detail_res = [{"name": name1, "url": rurl1,
                           "slug": f"res-{k}-1", "location": rloc1}]
        detail_title = (None if k % 6 == 0
                        else f"Updated: LRRK2 kinase study {k}")
        sections = {}
        obj_text = f"Rationale: inhibition of LRRK2 arm {k % 60}"
        if k % 4 != 0:
            sections["objective_rationale"] = obj_text
        else:
            sections["study_rationale"] = obj_text
        if k % 3 != 0:
            sections["project_description"] = \
                f"We will enroll {10 + k % 200} participants"
        if k % 2 == 0:
            sections[
                "relevance_to_diagnosis_treatment_of_parkinson_s_disease"
            ] = f"Improved dosing for patients cohort {k % 30}"
        if k % 5 != 1:
            sections["anticipated_outcome"] = \
                f"Will define kinase activity readouts {k % 70}"
        if k % 5 == 2:
            sections["final_outcome"] = \
                f"Assay validated in {k % 40} samples"
        if k % 7 == 0:
            sections["publication_based_on_mjff_funding"] = \
                f"Published in journal issue {k % 12}"
        tags = {}
        if k % 4 != 1:
            tags["search_by_related_keywords"] = \
                [f"alpha-synuclein {k % 5}", "biomarkers"]
        if k % 3 == 0:
            tags["within_the_same_funding_year"] = [str(2012 + k % 7)]
        if k % 2 == 0:
            tags["within_the_same_program"] = \
                ["Edmond J. Safra Core Programs"]
        same_program = (tags.get("within_the_same_program") or [None])[0]
        same_year = (tags.get("within_the_same_funding_year") or
                     [None])[0]
        researchers = detail_res or listing
        lead = researchers[0] if researchers else {}
        lead_name_raw = lead.get("name")
        lead_for_split = (lead_name_raw.split(",", 1)[0].strip()
                          if lead_name_raw else None)
        lead_given, lead_family = _mj_split(lead_for_split)
        prof_position = (f"Professor of Neurology, University {k % 30}"
                         if k % 2 == 0 else None)
        prof_loc_line = (None if k % 5 == 0 else
                         "location: Toronto, Canada" if k % 7 == 0 else
                         "Location: Boston, MA")
        prof_bio = (_mj_clean("Investigator focused on  "
                              f"neurodegeneration {k % 25}")
                    if k % 3 == 0 else None)
        if lead.get("url"):
            location = None
            position = None
            for line in [x for x in (prof_position, prof_loc_line) if x]:
                if line.lower().startswith("location:"):
                    location = _mj_clean(line.replace("Location:", "", 1))
                elif position is None:
                    position = line
            prof = {"lead_profile_name": name1,
                    "lead_profile_url": lead["url"],
                    "lead_position_affiliation": position,
                    "lead_location": location, "lead_bio": prof_bio}
        else:
            prof = {"lead_profile_name": None,
                    "lead_profile_url": lead.get("url"),
                    "lead_position_affiliation": None,
                    "lead_location": lead.get("location"),
                    "lead_bio": None}
        source_program = same_program or program0 or "MJFF Funded Study"
        source_year = same_year or year0
        obj = (sections.get("objective_rationale")
               or sections.get("study_rationale"))
        expected[f"mjff-{slug}"] = {
            "source_page": str(k // 6),
            "source_page_position": str(1 + k % 6),
            "source_program_year": meta,
            "source_program": source_program,
            "source_year": source_year,
            "source_year_missing_note": (
                None if source_year else
                "MJFF public page does not expose funding year"),
            "title": title, "listing_summary": summary,
            "grant_url": f"{B}/grant/{slug}", "grant_slug": slug,
            "listing_researchers_json":
                _json.dumps(listing, ensure_ascii=False),
            "detail_title": detail_title,
            "detail_sections_json":
                _json.dumps(sections, ensure_ascii=False, sort_keys=True),
            "objective_rationale": obj,
            "project_description": sections.get("project_description"),
            "relevance_to_diagnosis_treatment": sections.get(
                "relevance_to_diagnosis_treatment_of_parkinson_s_disease"),
            "anticipated_outcome": sections.get("anticipated_outcome"),
            "final_outcome": sections.get("final_outcome"),
            "publication_based_on_mjff_funding":
                sections.get("publication_based_on_mjff_funding"),
            "detail_researchers_json":
                _json.dumps(detail_res, ensure_ascii=False),
            "detail_researcher_count": str(len(detail_res)),
            "detail_program": same_program, "detail_year": same_year,
            "keywords_json": _json.dumps(
                tags.get("search_by_related_keywords") or [],
                ensure_ascii=False),
            "tags_json": _json.dumps(tags, ensure_ascii=False,
                                     sort_keys=True),
            "lead_investigator_raw": lead_name_raw,
            "lead_given_name": lead_given,
            "lead_family_name": lead_family,
            "lead_researcher_url": lead.get("url"),
            **prof,
            "display_name": detail_title or title,
            "description": (obj or sections.get("project_description")
                            or sections.get("final_outcome") or summary),
            "funder_id": "4320306136",
            "funder_display_name":
                "Michael J. Fox Foundation for Parkinson's Research",
            "funder_doi": "10.13039/100000864",
            "provenance": "mjff_funded_studies",
            "funding_type": "research",
            "amount": None, "currency": None,
            "landing_page_url": f"{B}/grant/{slug}",
        }
    actual = _run(spark, sf_dir, "mjff_parse_grants")
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.funder_award_id in expected, r.funder_award_id
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


def test_mjff_rule_tables_match_reference():
    """AST-pin the suffix set and program-year regexes against
    mjff_to_s3.py (suffixes from split_name's local assignment;
    regexes read from the parse_program_year source segment)."""
    import ast
    import os

    ref = "/root/reference/scripts/local/mjff_to_s3.py"
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    from openalex_walden_spark.queries import mjff as port

    src = open(ref, encoding="utf-8").read()
    tree = ast.parse(src)
    suffixes = None
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
                and node.targets[0].id == "suffixes"):
            suffixes = ast.literal_eval(node.value)
    assert suffixes == set(port._SUFFIXES)

    def unesc(s):
        return s.replace("\\\\", "\\")

    # named groups dropped from the anchored program-year match
    assert re.sub(r"\(\?P<[^>]+>", "(",
                  r"^(?P<program>.+?),\s*(?P<year>\d{4})$") == \
        unesc(port._PROG_YEAR)
    assert r"^(?P<program>.+?),\s*(?P<year>\d{4})$" in src
    assert r"\b(19|20)\d{2}\b" in src            # the year search
    assert r",?\s*\b(19|20)\d{2}\b" in src       # the year strip
    # port equivalents: search wraps the full match in group 1 and
    # makes the (19|20) alternation non-capturing
    assert unesc(port._YEAR_SEARCH) == r"\b((?:19|20)\d{2})\b"
    assert unesc(port._YEAR_STRIP) == r",?\s*\b(?:19|20)\d{2}\b"


# ---------------------------------------------------------------------------
# Carlsbergfondet grants parse
# (scripts/local/carlsberg_fondet_to_s3.py:150-155, 227-300, 465-534)
# ---------------------------------------------------------------------------

_CF_PREFIXES = {"Dr", "Dr.", "Prof", "Prof.", "Professor", "Associate",
                "Assistant"}
_CF_SUFFIXES = {"PhD", "Ph.D.", "MD", "M.D.", "DPhil", "Dr.phil.", "Jr.",
                "Sr.", "II", "III", "IV"}
_CF_MARKERS = {
    "carlsbergfondet", "fondet", "institut", "institute", "instituttet",
    "universitet", "university", "universiteit", "selskab", "selskabs",
    "selskabet", "society", "akademi", "academy", "royal", "kgl",
    "kongelige", "foundation", "fond", "fonden", "fonds", "center",
    "centre", "centeret", "centret", "museum", "museet", "school",
    "skole", "skolen", "forskning", "forskningsråd", "forskningsraad",
    "forum", "hospital", "sygehus", "biblioteket", "bibliotek",
    "library", "council", "ràd", "raad", "association", "forening",
    "foreningen", "danske", "danish", "polytechnic", "company",
    "institution",
}


def _cf_clean(v):
    from html import unescape
    if v is None:
        return None
    t = re.sub(r"\s+", " ", unescape(str(v))).strip()
    return t or None


def _cf_amount(amount_raw):
    if not amount_raw:
        return None, None
    text = _cf_clean(amount_raw) or ""
    cm = re.search(r"\b([A-Z]{3})\b", text)
    currency = cm.group(1) if cm else None
    nm = re.search(r"\d[\d,.\s]*", text)
    if not nm:
        return None, currency
    normalized = nm.group(0).strip().replace(",", "").replace(" ", "")
    try:
        return float(normalized), currency
    except ValueError:
        return None, currency


def _cf_is_inst(name):
    if not name:
        return False
    toks = {t.lower().strip(".,;:()[]")
            for t in re.split(r"[\s/]+", name) if t}
    return bool(toks & _CF_MARKERS)


def _cf_split(full_name):
    if not full_name:
        return None, None
    tokens = full_name.replace(",", " ").split()
    pref = {t.rstrip(".") for t in _CF_PREFIXES}
    while tokens and tokens[0].rstrip(".") in pref:
        tokens.pop(0)
    suf = {s.rstrip(".,") for s in _CF_SUFFIXES}
    while tokens and tokens[-1].rstrip(".,") in suf:
        tokens.pop()
    if not tokens:
        return None, None
    if len(tokens) == 1:
        return None, tokens[0]
    return " ".join(tokens[:-1]), tokens[-1]


def test_carlsberg_matches_reference_semantics(spark, sf_dir, orders_rows):
    B = "https://www.carlsbergfondet.dk"
    expected = {}
    for k, *_ in orders_rows:
        slug = f"grant-{k}-{k % 9}"
        url = f"{B}/en/what-we-have-funded/{slug}/"
        ok = k % 23 != 0
        if not ok:
            expected[f"carlsberg-fondet-{slug}"] = {
                "slug": slug, "display_name": None, "description": None,
                "applicant_name": None, "given_name": None,
                "family_name": None, "institution": None, "amount": None,
                "currency": None, "amount_raw": None, "year": None,
                "start_date": None, "end_date": None,
                "type_of_grant": None, "landing_page_url": url,
                "source_url": url, "http_status": "404",
                "year_raw": None, "declined": "False"}
            continue
        if k % 31 == 0:
            h1 = f"TEST page {k}"
        elif k % 6 == 0:
            h1 = None
        else:
            h1 = f"Excavations of  settlement &amp; landscape {k}"
        title = (_cf_clean(h1) if h1 is not None else
                 _cf_clean(re.sub(r"\s*\|\s*Carlsbergfondet.*$", "",
                                  f"Postdoc fellowship {k} | "
                                  "Carlsbergfondet — the foundation")))
        applicant = _cf_clean([
            "Professor Anne Mette Hansen PhD", "Dr. Jens  Olsen",
            "Videnskabernes Selskab / Royal Academy",
            "Det Danske Institut i Rom", "Karen Blixen-Madsen", None,
            "Associate Professor Lars Brandt Jr."][k % 7])
        if k % 31 == 0:
            amount_raw = "DKK 0"
        else:
            amount_raw = [None, f"DKK {100 + k % 900},{k % 1000:03d}",
                          "DKK 1.234.567", f"{200 + k % 50},500 kr.",
                          "EUR 75 000", f"DKK {k % 90}.50"][k % 6]
        amount, currency = _cf_amount(amount_raw)
        if title and title.upper().startswith("TEST ") and amount == 0:
            continue
        year_raw = [None, f"Autumn {2008 + k % 17}",
                    str(2008 + k % 17)][min(k % 8, 2)]
        ym = re.search(r"\b(19|20)\d{2}\b", year_raw or "")
        year = int(ym.group(0)) if ym else None
        if _cf_is_inst(applicant):
            given, family = None, None
        else:
            given, family = _cf_split(applicant)
        canonical = (f"{B}/en/what-we-have-funded/{slug}"
                     if k % 4 != 0 else None)
        expected[f"carlsberg-fondet-{slug}"] = {
            "slug": slug, "display_name": title, "description": None,
            "applicant_name": applicant, "given_name": given,
            "family_name": family,
            "institution": (None if k % 5 == 0 else
                            f"University of Copenhagen dept {k % 20}"),
            "amount": str(amount) if amount is not None else None,
            "currency": currency, "amount_raw": amount_raw,
            "year": str(year) if year is not None else None,
            "start_date": f"{year}-01-01" if year else None,
            "end_date": f"{year}-12-31" if year else None,
            "type_of_grant": (
                None if k % 3 == 0 else
                "Research Infrastructure" if k % 3 == 1 else
                f"Monograph Fellowship {k % 4}"),
            "landing_page_url": canonical or url, "source_url": url,
            "http_status": "200", "year_raw": _cf_clean(year_raw),
            "declined": "False"}
    actual = _run(spark, sf_dir, "carlsberg_parse_grants")
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.funder_award_id in expected, r.funder_award_id
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


def test_carlsberg_rule_tables_match_reference():
    """AST-pin LABEL_MAP, the institutional-marker vocabulary and the
    prefix/suffix token sets against carlsberg_fondet_to_s3.py (the
    port stores the post-rstrip normalized forms actually compared)."""
    import ast
    import os

    ref = "/root/reference/scripts/local/carlsberg_fondet_to_s3.py"
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    from openalex_walden_spark.queries import carlsberg as port

    tree = ast.parse(open(ref, encoding="utf-8").read())
    found = {}
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)):
            name = node.targets[0].id
            if name in ("LABEL_MAP", "_DEGREE_SUFFIXES", "_PREFIX_TITLES",
                        "_INSTITUTIONAL_NAME_MARKERS"):
                found[name] = ast.literal_eval(node.value)
    assert found["_INSTITUTIONAL_NAME_MARKERS"] == set(port._MARKERS)
    assert {t.rstrip(".") for t in found["_PREFIX_TITLES"]} == \
        set(port._PREFIXES)
    assert {s.rstrip(".,") for s in found["_DEGREE_SUFFIXES"]} == \
        set(port._SUFFIXES)
    # the five labeled facts the template walk reads (seam contract)
    assert found["LABEL_MAP"] == {
        "name of applicant": "applicant_name", "institution":
        "institution", "amount": "amount_raw", "year": "year_raw",
        "type of grant": "type_of_grant"}


# ---------------------------------------------------------------------------
# MMW Wallenberg grants parse
# (scripts/local/mmw_to_s3.py:158-251, 272-331, 434-446, 471-536)
# ---------------------------------------------------------------------------

_MW_AMT = re.compile(r"SEK\s+([0-9][0-9\s.,]*)(?:\s*(million|m))?",
                     re.IGNORECASE)
_MW_TITLE = re.compile(
    r"project(?:\s+entitled|:)?\s*[“”\"]([^\"“”]+)"
    r"[“”\"]", re.IGNORECASE)
_MW_HON = re.compile(
    r"^(Professor|Associate Professor|Assistant Professor|Dr|Doctor)\b",
    re.IGNORECASE)
_MW_HON_STRIP = re.compile(
    r"^(Professor|Associate Professor|Assistant Professor|Dr|Doctor)\s+",
    re.IGNORECASE)
_MW_SUFFIXES = {"PhD", "MD", "DPhil", "Jr.", "Sr.", "II", "III", "IV"}


def _mw_clean(v):
    if v is None:
        return None
    t = str(v).replace("\xa0", " ")
    t = re.sub(r"\s+", " ", t).strip()
    return t or None


def _mw_quotes(v):
    t = _mw_clean(v)
    if not t:
        return None
    return _mw_clean(t.strip(" \"'“”"))


def _mw_split(name):
    t = _mw_clean(name)
    if not t:
        return None, None
    t = _MW_HON_STRIP.sub("", t)
    toks = [x for x in t.split() if x]
    while toks and toks[-1].rstrip(",") in _MW_SUFFIXES:
        toks.pop()
    if not toks:
        return None, None
    if len(toks) == 1:
        return None, toks[0]
    return " ".join(toks[:-1]), toks[-1]


def _mw_slug(text, max_len=80):
    text = text.lower()
    text = re.sub(r"[^a-z0-9]+", "-", text)
    text = re.sub(r"-+", "-", text).strip("-")
    return (text[:max_len].strip("-") or "row")


def _mw_amount(text):
    m = _MW_AMT.search(text)
    if not m:
        return None, None
    number = m.group(1).replace(" ", "").replace(",", ".")
    try:
        value = float(number)
    except ValueError:
        return None, m.group(0)
    if m.group(2):
        value *= 1_000_000
    return int(round(value)), _mw_clean(m.group(0))


def _mw_inst_pi(text):
    before = re.split(
        r"\b(?:grant|funding|awarded grant|yearly funding|Grant)\b",
        text, maxsplit=1, flags=re.IGNORECASE)[0]
    before = _mw_clean(before.strip(" ,")) or ""
    parts = [p for p in (_mw_clean(p) for p in before.split(",")) if p]
    if not parts:
        return None, None
    inst = pi = None
    if _MW_HON.search(parts[0]):
        pi = parts[0]
        inst = parts[1] if len(parts) > 1 else None
    else:
        inst = parts[0]
        if len(parts) > 1 and _MW_HON.search(parts[1]):
            pi = parts[1]
    if inst:
        inst = _mw_clean(re.sub(r"\s+Project\s*:?.*$", "", inst,
                                flags=re.IGNORECASE))
    return inst, pi


def _mw_fixture(k):
    g = k // 2
    yr = 2019 + g % 7
    arm = 0 if g % 11 == 0 else k % 6
    has_detail = k % 3 == 0 and arm in (0, 1, 5)
    detail_url = (f"https://mmw.wallenberg.org/en/project/"
                  f"climate-adapt-{g}" if has_detail else None)
    if has_detail:
        link_text = f"Climate adaptation project {g}"
    elif k % 9 == 0:
        link_text = f"“News item {g}”"
    else:
        link_text = None
    section = [None, "Earlier grants",
               f"Grants to research projects {yr}"][min(k % 7, 2)]
    text = [
        f"Uppsala University, Professor Karin Lind{k % 40}, receives a "
        f"grant of SEK {1 + k % 9} 900 000 for the project "
        f"“Quantum materials {g}”",
        f"Professor Olof Berg{k % 40}, Lund University, was awarded "
        f"grant SEK {2 + k % 7},5 million for studies of enzymes {g}",
        f"In {yr} the foundation awarded grants of SEK 230 million",
        f"The board met to discuss grant policies {k}",
        f"A grant of SEK about nine million was given {k}",
        f"Research on climate adaptation {g} funding SEK "
        f"{500 + k % 300} 000"][arm]
    return g, yr, arm, has_detail, detail_url, link_text, section, text


def _mw_detail(k, g):
    dt_title = (None if k % 15 == 0
                else f"Climate adaptation in forests {g}")
    dt_project = (f"Adaptation mechanisms study {g}"
                  if k % 5 != 1 else None)
    dt_pi = {2: None, 3: "Dr Anna Ekström, PhD"}.get(
        k % 5, f"Professor Sven Holm {g % 30}")
    dt_inst = (f"Swedish University of Agricultural Sciences {g % 25}"
               if k % 5 != 3 else None)
    dt_amount_line = (
        f"Funding Awarded: SEK {1 + k % 8}"
        + (" million" if k % 4 == 1 else " m") if k % 2 == 1 else None)
    co = [x for x in (
        f"Professor Nils Åberg {g % 9}" if k % 2 == 0 else None,
        f"Dr Eva Lund {g % 5}" if k % 4 == 0 else None) if x]
    dps = [x for x in (
        f"The project investigates adaptation {g}." if k % 3 != 1
        else None,
        f"Field trials run in region {g % 10}." if k % 4 == 0
        else None) if x]
    return (dt_title, dt_project, dt_pi, dt_inst, dt_amount_line,
            "; ".join(co) or None, "\n\n".join(dps) or None)


def test_mmw_matches_reference_semantics(spark, sf_dir, orders_rows):
    rows = []
    for k in sorted(r[0] for r in orders_rows):
        (g, yr, arm, has_detail, detail_url, link_text, section,
         text) = _mw_fixture(k)
        text = _mw_clean(text)
        if section in ("Earlier grants", "Projects"):
            continue
        if "SEK" not in text or not re.search(
                r"\b(grant|funding|awarded)\b", text, re.IGNORECASE):
            continue
        if re.match(r"In\s+\d{4}.*awarded grants? of SEK", text,
                    re.IGNORECASE):
            continue
        amount, amount_text = _mw_amount(text)
        if amount is None:
            continue
        proj = _MW_TITLE.search(text)
        proj_title = _mw_clean(proj.group(1)) if proj else None
        inst, pi = _mw_inst_pi(text)
        display = ((link_text if detail_url else None) or proj_title
                   or _mw_quotes(link_text) or text[:140])
        h = hashlib.sha256(f"{yr}|{text}".encode()).hexdigest()[:12]
        row = {"k": k, "g": g, "yr": yr, "text": text,
               "section": section, "detail_url": detail_url,
               "amount": amount, "amount_text": amount_text,
               "proj_title": proj_title, "inst": inst, "pi": pi,
               "display": display, "hash": h, "descr": None,
               "co": None}
        if has_detail:
            (dt_title, dt_project, dt_pi, dt_inst, dt_amount_line, co,
             descr) = _mw_detail(k, g)
            if dt_amount_line:
                da, dat = _mw_amount(dt_amount_line)
                if da is not None:
                    row["amount"] = da
                    row["amount_text"] = dat or row["amount_text"]
            row["display"] = (dt_title or row["display"] or dt_project
                              or row["proj_title"])
            row["proj_title"] = dt_project or row["proj_title"]
            row["inst"] = dt_inst or row["inst"]
            row["pi"] = dt_pi or row["pi"]
            row["descr"] = descr
            row["co"] = co
        rows.append(row)
    # build_native_ids (mmw:434-446) over page order (year asc, k asc
    # within the year page)
    rows.sort(key=lambda r: (r["yr"], r["k"]))
    seen = {}
    expected = {}
    for r in rows:
        if r["detail_url"]:
            base = _mw_slug(r["detail_url"].rstrip("/")
                            .rsplit("/", 1)[-1])
        else:
            base = _mw_slug(r["display"] or r["proj_title"]
                            or r["inst"] or "grant")
        native = f"mmw-{r['yr']}-{base}"
        if native in seen:
            seen[native] += 1
            native = f"{native}-{r['hash']}"
        else:
            seen[native] = 1
        pi_name = _mw_clean(r["pi"])
        given, family = _mw_split(pi_name)
        expected[native] = {
            "display_name": _mw_clean(r["display"]),
            "description": _mw_clean(r["descr"]),
            "project_title": _mw_clean(r["proj_title"]),
            "source_year": str(r["yr"]),
            "start_date": f"{r['yr']}-01-01",
            "end_date": f"{r['yr']}-12-31",
            "amount": str(r["amount"]),
            "currency": "SEK",
            "institution": _mw_clean(r["inst"]),
            "lead_investigator_name": pi_name,
            "lead_investigator_given_name": given,
            "lead_investigator_family_name": family,
            "co_investigators_raw": _mw_clean(r["co"]),
            "source_section": r["section"],
            "source_amount_text": r["amount_text"],
            "source_page_url":
                f"https://mmw.wallenberg.org/en/grants/{r['yr']}",
            "detail_url": r["detail_url"],
            "landing_page_url": r["detail_url"] or
                f"https://mmw.wallenberg.org/en/grants/{r['yr']}",
            "source_text": r["text"],
            "source_row_hash": r["hash"],
        }
    actual = _run(spark, sf_dir, "mmw_parse_grants")
    assert len(actual) == len(expected), (len(actual), len(expected))
    for row in actual:
        assert row.funder_award_id in expected, row.funder_award_id
        exp = expected[row.funder_award_id]
        for col, want in exp.items():
            got = getattr(row, col)
            assert got == want, (
                f"{row.funder_award_id}.{col}: {got!r} != {want!r}")


def test_mmw_rule_tables_match_reference():
    """AST-pin the amount/title/honorific/keyword regexes and the
    suffix set against mmw_to_s3.py source text."""
    import os

    ref = "/root/reference/scripts/local/mmw_to_s3.py"
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    from openalex_walden_spark.queries import mmw as port

    src = open(ref, encoding="utf-8").read()

    def unesc(s):
        return s.replace("\\\\", "\\")

    assert r"SEK\s+([0-9][0-9\s.,]*)(?:\s*(million|m))?" in src
    assert unesc(port._AMT_CI) == \
        r"(?i)SEK\s+([0-9][0-9\s.,]*)(?:\s*(million|m))?"
    assert 'suffixes = {"PhD", "MD", "DPhil", "Jr.", "Sr.", "II", ' \
        '"III", "IV"}' in src
    assert set(port._SUFFIXES) == {"PhD", "MD", "DPhil", "Jr.", "Sr.",
                                   "II", "III", "IV"}
    assert r"(Professor|Associate Professor|Assistant Professor|" \
        r"Dr|Doctor)" in src.replace("\n        ", "")
    assert unesc(port._HONORIFIC) == \
        r"(?i)^(Professor|Associate Professor|Assistant Professor|" \
        r"Dr|Doctor)\b"
    assert r"\b(?:grant|funding|awarded grant|yearly funding|Grant)\b" \
        in src
    # the port drops the case-duplicate 'Grant' alternative under (?i)
    assert unesc(port._KEYWORD_CUT) == \
        r"(?i)\b(?:grant|funding|awarded grant|yearly funding)\b.*$"
    assert r"In\s+\d{4}.*awarded grants? of SEK" in src
    assert unesc(port._AGGREGATE) == \
        r"(?i)^In\s+\d{4}.*awarded grants? of SEK"


# ---------------------------------------------------------------------------
# Lister Institute fellows-directory arm
# (scripts/local/lister_to_s3.py:49-69, 77-117, 133-172)
# ---------------------------------------------------------------------------

_LI_TITLE = re.compile(
    r"^(Professor|Prof|Dr|Mr|Mrs|Ms|Miss|Sir|Dame)\.?\s+", re.I)


def _li_parse_pi(raw):
    if not raw:
        return None, None
    first = _LI_TITLE.sub("", raw.strip()).strip()
    first = re.sub(r"\b(PhD|MD|FMedSci|OBE|MBE|CBE|FRCP|FRS)\b\.?", "",
                   first).strip().rstrip(",")
    parts = first.split()
    if len(parts) < 2:
        return (None, first or None)
    return " ".join(parts[:-1]), parts[-1]


def _li_card(k):
    p = k // 3
    page = k % 5
    core = [f"Emma Clarke{p} FMedSci", f"Raj Patel {p}",
            f"Michael Owen {p} OBE", f"Li Wei{p}",
            f"Aisha Bello-Ahmed {p} PhD", f"Plate{p}"][p % 6]
    j = k - 3 * p
    pfx = [["Professor ", "Sir ", "Dame "][p % 3], "Dr. ", ""][j]
    name = pfx + core
    inst = (None if k % 4 == 0
            else f"University of Oxford wing {k % 90}")
    interests = (None if k % 5 == 2
                 else f"Molecular immunology theme {k % 40}")
    if k % 4 == 0:
        dates = None
    elif k % 8 == 1:
        dates = f"Fellow {2000 + p % 23}–"
    else:
        dates = f"Fellow {2000 + p % 23}-{2005 + p % 23}"
    page_year = {3: "2024", 4: "2025"}.get(page)
    start = end = None
    if dates:
        m = re.search(r"(\d{4})\s*[-–]\s*(\d{4})?", dates)
        if m:
            start, end = m.group(1), m.group(2)
    if not start and page_year:
        start = page_year
    return p, page, name, inst, interests, start, end


def test_lister_matches_reference_semantics(spark, sf_dir, orders_rows):
    # cross-page merge (lister_to_s3.py:133-152): records keyed by the
    # title-stripped name slug; first page-order occurrence wins, later
    # occurrences backfill still-missing fields individually
    cards = []
    for k in sorted(r[0] for r in orders_rows):
        p, page, name, inst, interests, start, end = _li_card(k)
        key = re.sub(r"[^a-z0-9]+", "-",
                     _LI_TITLE.sub("", name).lower()).strip("-")
        cards.append({"k": k, "page": page, "key": key, "name": name,
                      "institution": inst, "interests": interests,
                      "start_year": start, "end_year": end})
    cards.sort(key=lambda c: (c["page"], c["k"]))
    records = {}
    for rec in cards:
        if rec["key"] in records:
            old = records[rec["key"]]
            for f in ("institution", "interests", "start_year",
                      "end_year"):
                if not old.get(f) and rec.get(f):
                    old[f] = rec[f]
            continue
        records[rec["key"]] = dict(rec)
    expected = {}
    for key, rec in records.items():
        given, family = _li_parse_pi(rec["name"])
        yr = rec["start_year"]
        aid = f"lister-{key}" + (f"-{yr}" if yr else "")
        expected[aid] = {
            "slug": key, "fellow_name": rec["name"],
            "given_name": given, "family_name": family,
            "start_year": yr, "end_year": rec["end_year"],
            "display_name": rec["interests"]
            or "Lister Institute Research Prize Fellowship",
            "affiliation": rec["institution"],
            "landing_page_url": None,
        }
    actual = [r for r in _run(spark, sf_dir, "fellowship_directory_parse")
              if r.member == "lister"]
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.funder_award_id in expected, r.funder_award_id
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


def test_lister_rule_tables_match_reference():
    """Pin the title/post-nominal vocabulary against lister_to_s3.py."""
    import os

    ref = "/root/reference/scripts/local/lister_to_s3.py"
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    from openalex_walden_spark.queries import fellowdir as port

    src = open(ref, encoding="utf-8").read()

    def unesc(s):
        return s.replace("\\\\", "\\")

    assert r"^(Professor|Prof|Dr|Mr|Mrs|Ms|Miss|Sir|Dame)\.?\s+" in src
    assert unesc(port._LI_TITLE_RE) == \
        r"(?i)^(Professor|Prof|Dr|Mr|Mrs|Ms|Miss|Sir|Dame)\.?\s+"
    assert r"\b(PhD|MD|FMedSci|OBE|MBE|CBE|FRCP|FRS)\b\.?" in src
    assert unesc(port._LI_DEGREES) == \
        r"\b(PhD|MD|FMedSci|OBE|MBE|CBE|FRCP|FRS)\b\.?"
    assert r"(\d{4})\s*[-–]\s*(\d{4})?" in src
    assert '"Lister Institute Research Prize Fellowship"' in src


# ---------------------------------------------------------------------------
# Health Foundation thin-listing arm
# (scripts/local/health_foundation_to_s3.py:88-113, 161-183)
# ---------------------------------------------------------------------------

def test_thf_matches_reference_semantics(spark, sf_dir, orders_rows):
    expected = {}
    seen = set()
    for k in sorted(r[0] for r in orders_rows):
        sect = ("funding-and-partnerships" if k % 2 == 0
                else "funding-and-fellowships")
        slug = f"improving-access-{k // 2}"
        if k % 19 == 0:
            continue  # no href
        title_raw = (None if k % 17 == 0
                     else f"Improving  access to community care {k}")
        title = (re.sub(r"\s+", " ", title_raw.replace("\xa0", " "))
                 .strip() if title_raw else None)
        if not title:
            continue
        aid = f"thf-{slug}"
        if aid in seen:  # dedupe across facets, crawl order
            continue
        seen.add(aid)
        meta = ("Project | date TBC" if k % 13 == 0 else
                f"Project | {1 + k % 28} October {1998 + k % 28}")
        ym = re.search(r"(?:19|20)\d\d", meta)
        if k % 7 == 0:
            summary = None
        elif k % 5 == 0:
            summary = (
                "This programme supports local systems to improve care "
                "quality and outcomes across the region with partners. "
                * 3 + f"Cohort {k}")
            summary = re.sub(r"\s+", " ", summary).strip()
        else:
            summary = f"Evaluation of pathway {k}"
        href = f"https://www.health.org.uk/{sect}/projects/{slug}"
        expected[aid] = {
            "display_name": title,
            "description": summary[:300] if summary else None,
            "funder_scheme": sect.replace("-", " ").capitalize(),
            "source_year": ym.group(0) if ym else None,
            "landing_page_url": href, "source_url": href,
            "recipient_name": None, "amount": None, "currency": None,
            "funding_type": None,
        }
    actual = [r for r in _run(spark, sf_dir, "foundation_archive_parse")
              if r.member == "thf"]
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.funder_award_id in expected, r.funder_award_id
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


def test_thf_rules_match_reference():
    """Pin the THF grammar fragments against the reference source."""
    import os

    ref = "/root/reference/scripts/local/health_foundation_to_s3.py"
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    src = open(ref, encoding="utf-8").read()
    assert r'YEAR_RE = re.compile(r"(?:19|20)\d\d")' in src
    assert 'f"thf-{slug}"' in src
    assert '"description": (summary[:300] if summary else None)' in src
    assert 'segs[0].replace("-", " ").capitalize()' in src


# ---------------------------------------------------------------------------
# Templeton WP-REST passthrough arm
# (scripts/local/templeton_to_s3.py:100-126)
# ---------------------------------------------------------------------------

def test_templeton_matches_reference_semantics(spark, sf_dir,
                                               orders_rows):
    expected = {}
    for k in sorted(r[0] for r in orders_rows):
        rendered = ("" if k % 6 == 0
                    else f"Science &amp; the big questions {k}")
        acf = {
            "grant_id": (None if k % 11 == 0
                         else str(60000 + k % 9000)),
            "grant_web_title": (None if k % 18 == 0 else
                                f"Foundations of complexity {k % 400}"),
            "grant_max_content": (None if k % 4 == 0 else
                                  f"Long-form narrative for grant {k}"),
            "grant_content": (None if k % 3 == 0 else
                              f"Short summary {k % 50}"),
            "grant_project_leader": (None if k % 5 == 0 else
                                     f"Maria Duarte {k % 70}"),
            "grant_grantee": (None if k % 7 == 0 else
                              f"University of Tartu {k % 40}"),
            "grant_amount": (None if k % 9 == 0 else
                             str(100000 + k % 800000)),
            "grant_start_date": (None if k % 8 == 0 else
                                 f"{2010 + k % 14}-07-01"),
            "grant_end_date": (None if k % 10 == 0 else
                               f"{2013 + k % 14}-06-30"),
        }
        # normalise_record: title = rendered or acf.grant_web_title or ''
        title = rendered or (acf.get("grant_web_title") or "")
        expected[f"grant-{k}"] = {
            "wp_post_id": str(90000 + k),
            "funder_award_id": acf["grant_id"],
            "project_id": acf["grant_id"],
            "title": title,
            "grant_web_title": acf["grant_web_title"],
            "grant_max_content": acf["grant_max_content"],
            "grant_content": acf["grant_content"],
            "grant_project_leader": acf["grant_project_leader"],
            "grant_grantee": acf["grant_grantee"],
            "grant_amount_raw": acf["grant_amount"],
            "grant_start_date": acf["grant_start_date"],
            "grant_end_date": acf["grant_end_date"],
            "wp_date": f"20{10 + k % 15:02d}-03-0{1 + k % 9}T08:15:00",
            "wp_modified": f"2025-0{1 + k % 9}-12T10:00:00",
            "landing_page_url":
                f"https://www.templeton.org/grant/grant-{k}",
            "amount": None, "currency": None, "description": None,
        }
    actual = [r for r in _run(spark, sf_dir, "wprest_parse_projects")
              if r.member == "templeton"]
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.slug in expected, r.slug
        exp = expected[r.slug]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (f"{r.slug}.{col}: {got!r} != {want!r}")


def test_templeton_rules_match_reference():
    """Pin the templeton passthrough contract fragments."""
    import os

    ref = "/root/reference/scripts/local/templeton_to_s3.py"
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    src = open(ref, encoding="utf-8").read()
    assert '"title": title or (acf.get("grant_web_title") or "")' in src
    assert '"grant_amount_raw": acf.get("grant_amount")' in src
    assert 'wp-json/wp/v2/grants' in src


# ---------------------------------------------------------------------------
# Wolf Prize winners arm (scripts/local/wolf_to_s3.py:115-188)
# ---------------------------------------------------------------------------

_WF_FIELDS = {85: "Physics", 81: "Mathematics", 87: "Medicine",
              83: "Chemistry", 91: "Agriculture", 107: "Architecture",
              114: "Music", 124: "Painting & Sculpture", 47: "Leadership"}
_WF_AFFIL = re.compile(
    r"Affiliation at the time of the award\s*:?\s*(.{1,300}?)"
    r"(?:Award citation|Prize share|Citation|$)", re.I | re.S)
_WF_CIT = re.compile(
    r"Award citation\s*:?\s*[“\"']?(.{1,1000}?)[”\"']?\s*"
    r"(?:Prize share|Affiliation|Bibliography|$)", re.I | re.S)


def _wf_h2t(html):
    from html import unescape
    if not html:
        return ""
    text = re.sub(r"<[^>]+>", " ", html)
    text = unescape(text)
    return re.sub(r"\s+", " ", text).strip()


def _wf_split(name):
    if not name:
        return None, None
    toks = name.split()
    sufs = {"phd", "md", "dphil", "dsc", "scd", "jr.", "sr.", "ii",
            "iii", "iv", "jr", "sr"}
    while toks and toks[-1].lower().strip(",.") in sufs:
        toks.pop()
    if not toks:
        return None, None
    if len(toks) == 1:
        return None, toks[0]
    return " ".join(toks[:-1]), toks[-1]


def test_wolf_matches_reference_semantics(spark, sf_dir, orders_rows):
    expected = {}
    for k in sorted(r[0] for r in orders_rows):
        title_html = [
            f"James P. Eisenstein PhD {k % 60}",
            f"Sara&amp;Lee Jr. {k % 60}", "Chen",
            f"<strong>Maria del Carmen Ruiz</strong> MD {k % 60}",
            f"Robert&#8217;s Oduya {k % 60}"][k % 5]
        name = _wf_h2t(title_html)
        given, family = _wf_split(name)
        if k % 8 == 0:
            cats = [27]
        elif k % 12 == 0:
            cats = [27, 114, 85]
        else:
            cats = [27, [85, 81, 87, 83, 91, 107, 114, 124, 47][k % 9]]
        field = next((_WF_FIELDS[c] for c in cats if c in _WF_FIELDS),
                     None)
        d = "n.d." if k % 29 == 0 else f"{1978 + k % 47}-06-01T00:00:00"
        year = int(d[:4]) if len(d) >= 4 and d[:4].isdigit() else None
        content = f"<p>Biography of the laureate {k}.</p>"
        if k % 6 != 0:
            content += ("<p>Affiliation at the time of the award: "
                        "Weizmann Institute of Science, dept "
                        f"{k % 30}</p>")
        if k % 7 != 0:
            content += ("<p>Award citation: &quot;for pioneering work "
                        f"on problem {k % 90}.&quot;</p>")
        if k % 3 == 0:
            content += "<p>Prize share: 1/2</p>"
        text = _wf_h2t(content)
        affil = citation = None
        m = _WF_AFFIL.search(text)
        if m:
            affil = m.group(1).strip().rstrip(":").strip() or None
            affil = re.split(
                r"(?=Award citation|Prize share|Bibliography)",
                affil)[0].strip()
            affil = affil or None
        m = _WF_CIT.search(text)
        if m:
            citation = m.group(1).strip() or None
        if citation:
            citation = (citation.strip().strip(".").strip("”")
                        .strip("\"").strip("'").strip(":").strip())
        expected[f"winner-{k}"] = {
            "funder_award_id": None,
            "award_year": str(year) if year is not None else None,
            "laureate_name": name, "given_name": given,
            "family_name": family, "award_category": field,
            "affiliation": affil, "citation": citation or None,
            "wp_id": str(70000 + k),
            "landing_page_url": f"https://wolffund.org.il/{k}/",
            "source_url": f"https://wolffund.org.il/{k}/",
            "wf_wp_date": d,
            "wf_categories_json": "[" + ", ".join(map(str, cats)) + "]",
        }
    actual = [r for r in _run(spark, sf_dir, "prize_pattern_parse")
              if r.member == "wolf_prize"]
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.wp_slug in expected, r.wp_slug
        exp = expected[r.wp_slug]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (f"{r.wp_slug}.{col}: {got!r} != {want!r}")


def test_wolf_rule_tables_match_reference():
    """AST-pin the wolf field-category map and suffix set."""
    import ast
    import os

    ref = "/root/reference/scripts/local/wolf_to_s3.py"
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    from openalex_walden_spark.queries import prizepattern as port

    tree = ast.parse(open(ref, encoding="utf-8").read())
    found = {}
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)):
            name = node.targets[0].id
            if name in ("FIELD_CATEGORIES", "suffixes"):
                found[name] = ast.literal_eval(node.value)
    assert found["FIELD_CATEGORIES"] == port.WOLF_FIELD_CATEGORIES
    assert found["suffixes"] == set(port.WOLF_SUFFIXES)
    src = open(ref, encoding="utf-8").read()
    assert r"Affiliation at the time of the award\s*:?\s*(.{1,300}?)" \
        in src
    assert r"Award citation\s*:?\s*" in src


# ---------------------------------------------------------------------------
# Brain Tumour Charity arm
# (scripts/local/brain_tumour_charity_to_s3.py:47-140)
# ---------------------------------------------------------------------------

_BT_LABELS = {
    "title": "detail_title",
    "lead researcher": "pi_raw", "lead researchers": "pi_raw",
    "where": "institution", "when": "when", "cost": "cost_raw",
    "research type": "research_type",
}
_BT_TITLE = re.compile(
    r"^(Professor|Prof|Dr|Mr|Mrs|Ms|Miss|Sir|Dame)\.?\s+", re.I)
_BT_MONTHS = {m: i for i, m in enumerate(
    ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
     "Oct", "Nov", "Dec"], 1)}


def _bt_pi(raw):
    if not raw:
        return None, None
    first = re.split(r";|,| and |&|/", raw)[0].strip()
    first = _BT_TITLE.sub("", first).strip()
    parts = first.split()
    if len(parts) < 2:
        return (None, first or None)
    return " ".join(parts[:-1]), parts[-1]


def _bt_cost(raw):
    if not raw:
        return None
    s = raw.replace(",", "")
    m = re.search(r"£\s*(\d+(?:\.\d+)?)\s*(million|m\b|k\b)?", s, re.I)
    if not m:
        return None
    val = float(m.group(1))
    suf = (m.group(2) or "").lower()
    if suf.startswith("m"):
        val *= 1_000_000
    elif suf == "k":
        val *= 1_000
    return str(int(val))


def _bt_mon_year(tok):
    m = re.match(r"([A-Za-z]{3})[a-z]*\s+(\d{4})", tok.strip())
    if m and m.group(1).title() in _BT_MONTHS:
        return (f"{m.group(2)}-{_BT_MONTHS[m.group(1).title()]:02d}-01",
                m.group(2))
    y = re.search(r"(\d{4})", tok)
    return (f"{y.group(1)}-01-01", y.group(1)) if y else (None, None)


def _bt_lines(k):
    t = {0: "Title:", 1: "Title: A"}.get(
        k % 6, f"Title: Mapping glioma drivers {k}")
    t_next = (f"Mapping glioma drivers {k}" if k % 6 == 0
              else "Every mention counts")
    pi = {0: None,
          1: f"Lead researcher: Professor Joan Weiss{k % 40} and Dr Li",
          2: "Lead researchers: Dr A; Dr B",
          3: f"Lead researcher: Dr Maya Chen{k % 30} & team",
          }.get(k % 5, f"Lead researcher: Sir Omar Haddad{k % 20} "
                       "/ co-leads")
    where = (None if k % 4 == 0
             else f"Where: University of Leeds {k % 30}")
    when = {0: None,
            1: f"When: April {2015 + k % 9} - March {2018 + k % 9}",
            2: f"When: {2014 + k % 11}",
            }.get(k % 7, f"When: September {2016 + k % 8}")
    cost = {0: "Cost: TBC",
            1: f"Cost: £{1 + k % 4}.2 million",
            2: f"Cost: £{100 + k % 900},500",
            3: f"Cost: £{10 + k % 90}k",
            4: f"Cost: £{1 + k % 3} m",
            }.get(k % 8)
    rt = (None if k % 3 == 0
          else f"Research type: Quest for cures {k % 5}")
    return [x for x in ("The Brain Tumour Charity", t, t_next, pi,
                        where, when, cost, rt, "Donate now")
            if x is not None]


def _bt_walk(lines):
    """The reference label-line walk (:97-110)."""
    f = {}
    for i, l in enumerate(lines):
        key = l.split(":", 1)[0].rstrip(":").strip().lower()
        norm = _BT_LABELS.get(key)
        if not norm:
            continue
        val = l.split(":", 1)[1].strip() if ":" in l else ""
        if not val and i + 1 < len(lines):
            nxt = lines[i + 1]
            if nxt.split(":", 1)[0].rstrip(":").strip().lower() \
                    not in _BT_LABELS:
                val = nxt
        val = re.sub(r"^[:\-–—•·]\s*", "", val).strip()
        if val and norm not in f:
            f[norm] = val
    return f


def test_btc_matches_reference_semantics(spark, sf_dir, orders_rows):
    expected = {}
    for k in sorted(r[0] for r in orders_rows):
        slug = f"glioma-project-{k}"
        link = ("https://www.thebraintumourcharity.org/research/"
                f"{slug}/")
        rest_title = re.sub(
            r"\s+", " ",
            re.sub(r"<[^>]+>", " ",
                   f"<em>Quest</em> title &amp; hope {k}")
            .replace("&amp;", "&")).strip()
        aid = f"tbtc-{40000 + k if k % 31 != 0 else slug}"
        if k % 23 == 0:
            expected[aid] = {"title": rest_title, "slug": slug,
                             "btc_pi_given": None,
                             "btc_pi_family": None,
                             "btc_institution": None, "amount": None,
                             "btc_programme": None, "date_start": None,
                             "start_year": None, "end_year": None,
                             "landing_page_url": link}
            continue
        f = _bt_walk(_bt_lines(k))
        start_date = start_year = end_year = None
        when = f.get("when", "")
        dm = re.search(r"([A-Za-z]{3,9}\s+\d{4})\s*[-–]\s*"
                       r"([A-Za-z]{3,9}\s+\d{4})", when)
        if dm:
            start_date, start_year = _bt_mon_year(dm.group(1))
            _, end_year = _bt_mon_year(dm.group(2))
        elif when:
            start_date, start_year = _bt_mon_year(when)
        given, family = _bt_pi(f.get("pi_raw"))
        dt = (f.get("detail_title") or "").strip()
        expected[aid] = {
            "title": dt if len(dt) >= 4 else rest_title,
            "slug": slug,
            "btc_pi_given": given, "btc_pi_family": family,
            "btc_institution": f.get("institution"),
            "amount": _bt_cost(f.get("cost_raw")),
            "btc_programme": f.get("research_type"),
            "date_start": start_date, "start_year": start_year,
            "end_year": end_year, "landing_page_url": link,
        }
    actual = [r for r in _run(spark, sf_dir, "wprest_parse_projects")
              if r.member == "brain_tumour_charity"]
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.funder_award_id in expected, r.funder_award_id
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


def test_btc_rule_tables_match_reference():
    """AST-pin the BTC label map and title regex."""
    import ast
    import os

    ref = ("/root/reference/scripts/local/"
           "brain_tumour_charity_to_s3.py")
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    from openalex_walden_spark.queries import wprest as port

    tree = ast.parse(open(ref, encoding="utf-8").read())
    labels = None
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
                and node.targets[0].id == "LABELS"):
            labels = ast.literal_eval(node.value)
    assert labels == port.BTC_LABELS
    src = open(ref, encoding="utf-8").read()
    assert r"^(Professor|Prof|Dr|Mr|Mrs|Ms|Miss|Sir|Dame)\.?\s+" in src
    assert port.BTC_TITLE_RE.replace("\\\\", "\\") == \
        r"(?i)^(Professor|Prof|Dr|Mr|Mrs|Ms|Miss|Sir|Dame)\.?\s+"
    assert r"£\s*(\d+(?:\.\d+)?)\s*(million|m\b|k\b)?" in src


# ---------------------------------------------------------------------------
# Holberg + Nils Klim laureates (scripts/local/holberg_to_s3.py:62-68,
# 230-246, 305-344, 351-413)
# ---------------------------------------------------------------------------

_HB_PRIZE_META = {
    "holbergprisen": ("Holberg Prize", 6_000_000, "NOK"),
    "nils-klim-prisen": ("Nils Klim Prize", 500_000, "NOK"),
}
_HB_EXCLUDED = "holbergprisen-i-skolen"
_HB_SUFFIXES = {"PhD", "MD", "DPhil", "Jr.", "Sr.", "II", "III", "IV"}


def _hb_strip_html(html):
    from html import unescape
    text = re.sub(r"<[^>]+>", " ", html)
    text = unescape(text)
    return re.sub(r"\s+", " ", text).strip()


_HB_CITE = re.compile(
    r"(?:Holbergprisen|Nils Klim-prisen)\s+\d{4}\s+tildeles\s+[^.]*?"
    r"\s+for\s+(.+?)\.",
    flags=re.IGNORECASE | re.DOTALL,
)


def _hb_citation(content_html):
    m = _HB_CITE.search(_hb_strip_html(content_html))
    if not m:
        return None
    return m.group(1).strip() or None


def _hb_split(full):
    tokens = full.split()
    suf = {s.rstrip(".") for s in _HB_SUFFIXES}
    while tokens and tokens[-1].rstrip(".") in suf:
        tokens.pop()
    if not tokens:
        return ("", "")
    if len(tokens) == 1:
        return ("", tokens[0])
    return (" ".join(tokens[:-1]), tokens[-1])


def test_holberg_matches_reference_semantics(spark, sf_dir, orders_rows):
    from html import unescape

    expected = {}
    for k, *_ in orders_rows:
        slug = f"laureat-{k}"
        # the prize-resolution walk (holberg_to_s3.py:230-246)
        prize_lists = [
            ["holbergprisen"], ["nils-klim-prisen"],
            [_HB_EXCLUDED, "holbergprisen"],
            ["nils-klim-prisen", "holbergprisen"], [],
        ]
        prize_slug = None
        for s in prize_lists[k % 5]:
            if s == _HB_EXCLUDED:
                prize_slug = None
                break
            prize_slug = s
        if prize_slug is None:
            continue
        year = None if k % 11 == 0 else str(2004 + k % 22)
        countries = [None, "Norway", "Norway|United Kingdom",
                     "Danmark|Norge|Sverige"][k % 4]
        clist = countries.split("|") if countries else []
        title_raw = [
            f"Kari  Holm &amp; Nordmann {k}", "Cherry", "Ola Nordmann PhD",
            f"Anne Beate Maurseth Jr. {k % 7}", "Jan-Werner Muller Sr",
            f"Griselda Pollock {k % 9}"][k % 6]
        title = unescape(title_raw)
        y = 2004 + k % 22
        content = [
            (f"<p>Holbergprisen {y} tildeles den norske forskeren "
             f"<strong>X</strong> for banebrytende forskning om felt "
             f"{k % 13}. Mer omtale.</p>"),
            (f"<p>Nils Klim-prisen {y} tildeles forskeren Y for "
             f"fremragende  bidrag til nordisk humaniora &amp; "
             f"rettsvitenskap. Juryen sier mer.</p>"),
            "<p>Vinneren mottok prisen under en seremoni.</p>",
            "",
            (f"<div>HOLBERGPRISEN {y} TILDELES professoren for innsats "
             f"i faget nummer {k % 17}. Slutt.</div>"),
            (f"<div>HOLBERGPRISEN {y} TILDELES professoren for innsats "
             f"i faget nummer {k % 17}. Slutt.</div>"),
            (f"<div>HOLBERGPRISEN {y} TILDELES professoren for innsats "
             f"i faget nummer {k % 17}. Slutt.</div>"),
        ][k % 7]
        display, amount, currency = _HB_PRIZE_META[prize_slug]
        given, family = _hb_split(title)
        expected[f"{prize_slug}-{year}-{slug}"] = {
            "prize_slug": prize_slug, "prize_name": display,
            "year": year, "laureate_full_name": title,
            "laureate_given_name": given, "laureate_family_name": family,
            "nationality": clist[0] if clist else None,
            "affiliation_country_raw": clist[1] if len(clist) > 1 else None,
            "description": _hb_citation(content),
            "amount": str(amount), "currency": currency,
            "landing_page_url":
                f"https://holbergprisen.no/{prize_slug}/{slug}",
            "wp_post_id": str(100000 + k), "declined": "False"}
    actual = _run(spark, sf_dir, "holberg_parse_laureates")
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.funder_award_id in expected, r.funder_award_id
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


def test_holberg_rule_tables_match_reference():
    """AST-pin PRIZE_META, EXCLUDED_PRIZE_SLUGS and the degree-suffix
    set against holberg_to_s3.py (the port stores the post-rstrip
    normalized suffix forms actually compared)."""
    import ast
    import os

    ref = "/root/reference/scripts/local/holberg_to_s3.py"
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    from openalex_walden_spark.queries import holbergparse as port

    tree = ast.parse(open(ref, encoding="utf-8").read())
    found = {}
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)):
            name = node.targets[0].id
            if name in ("PRIZE_META", "EXCLUDED_PRIZE_SLUGS",
                        "_DEGREE_SUFFIXES"):
                found[name] = ast.literal_eval(node.value)
    assert {k: (v[0], v[1]) for k, v in found["PRIZE_META"].items()} == \
        port._PRIZE_META
    assert all(v[2] == port._CURRENCY for v in found["PRIZE_META"].values())
    assert found["EXCLUDED_PRIZE_SLUGS"] == {port._EXCLUDED_SLUG}
    assert {s.rstrip(".") for s in found["_DEGREE_SUFFIXES"]} == \
        set(port._SUFFIXES)


# ---------------------------------------------------------------------------
# Letten Prize laureates (scripts/local/letten_prize_to_s3.py:121-127,
# 135-165, 247-323, 326-371)
# ---------------------------------------------------------------------------

_LP_WINNERS = {
    2018: ("page", "winner-of-the-2018-letten-prize"),
    2021: ("page", "winner-of-the-2021-letten-prize"),
    2023: ("page", "winner-of-the-2023-letten-prize"),
    2025: ("post", "2025-letten-prize-laureate"),
}
_LP_MIT = "Massachusetts Institute of Technology"
_LP_PAD = " ".join(
    f"The Letten Prize jury noted the wide ranging impact of "
    f"contribution number {i} on communities health research and "
    f"sustainable development work around the world." for i in range(10))


def _lp_clean(value):
    from html import unescape
    if value is None:
        return None
    text = re.sub(r"<[^>]+>", " ", str(value))
    text = unescape(text).replace(" ", " ")
    text = re.sub(r"\s+", " ", text).strip()
    return text or None


def _lp_slugify(value):
    import unicodedata
    normalized = unicodedata.normalize("NFKD", value)
    ascii_text = normalized.encode("ascii", "ignore").decode("ascii")
    slug = re.sub(r"[^a-z0-9]+", "-", ascii_text.lower()).strip("-")
    return slug or "unknown"


def _lp_split(name):
    parts = [p for p in _lp_clean(name).split(" ") if p] if _lp_clean(name) else []
    suf = {"phd", "md", "dphil", "dsc", "scd", "jr.", "sr.", "ii", "iii",
           "iv", "jr", "sr"}
    while parts and parts[-1].lower().strip(",.") in suf:
        parts.pop()
    if not parts:
        return None, None
    if len(parts) == 1:
        return parts[0], None
    return " ".join(parts[:-1]), parts[-1]


def _lp_name(title, text, content_html):
    m = re.search(r"^(.+?) wins the Letten Prize$", title, flags=re.IGNORECASE)
    if m:
        return _lp_clean(m.group(1))
    m = re.search(
        r"awards the Letten Prize\s+\d{4}\s+to\s+"
        r"([A-Z][A-Za-zÀ-ÖØ-öø-ÿ .'\-]+?)\s+for\s+", text)
    if m:
        return _lp_clean(m.group(1))
    m = re.search(
        r"^[\"“]?\s*([A-Z][A-Za-zÀ-ÖØ-öø-ÿ .'\-]+?)\s+"
        r"(?:hails|is affiliated|\(from)", text)
    if m:
        return _lp_clean(m.group(1))
    for cand in re.findall(r"<strong[^>]*>([^<]*)</strong>", content_html):
        c = _lp_clean(cand)
        if not c:
            continue
        if re.search(r"Citation|Video|Winner|Prize|Get to|Responding", c,
                     flags=re.IGNORECASE):
            continue
        if re.match(r"^[A-Z][A-Za-zÀ-ÖØ-öø-ÿ .'\-]+ "
                    r"[A-Z][A-Za-zÀ-ÖØ-öø-ÿ .'\-]+$", c):
            return c
    raise RuntimeError("no laureate name")


def _lp_affiliation(year, text):
    if year == 2025 and _LP_MIT in text:
        return _LP_MIT
    if year == 2023:
        m = re.search(r"currently\s+Assistant Professor at\s+"
                      r"(.+?)(?:,\s+where|\.|$)", text)
        if m:
            return _lp_clean(m.group(1))
    if year == 2021:
        m = re.search(r"affiliated with the\s+(.+?)\s+where", text)
        if m:
            return _lp_clean(m.group(1))
    if year == 2018:
        m = re.search(r"is affiliated with the\s+(.+?)\.\s+", text)
        if m:
            return _lp_clean(m.group(1))
    return None


def _lp_description(text, laureate):
    if not text:
        return None
    if len(text) <= 1200:
        return text
    sentences = re.split(r"(?<=[.!?])\s+", text)
    selected = []
    for sentence in sentences:
        if (laureate.split()[-1] in sentence or "Letten Prize" in sentence
                or len(selected) < 2):
            selected.append(sentence)
        if len(" ".join(selected)) > 900:
            break
    return _lp_clean(" ".join(selected)) or text[:1200]


def test_letten_matches_reference_semantics(spark, sf_dir, orders_rows):
    expected = {}
    for k, *_ in orders_rows:
        lk = (chr(65 + k % 26) + chr(65 + (k // 26) % 26)
              + chr(65 + (k // 676) % 26))
        for year, (stype, sslug) in _LP_WINNERS.items():
            arm = (k + year) % 4
            planted = ["Nora Helmer" + lk, "Jon Müller-Olsen" + lk,
                       "Ada Chen" + lk + " PhD", "Anna Olsen" + lk][arm]
            if arm == 0:
                title = f"{planted} wins the Letten Prize"
            else:
                title = f"Letten Prize {year} laureate announced"
            s1 = [
                f"The prize ceremony takes place in Oslo on day "
                f"{k % 28 + 1}.",
                f"The Young Academy of Norway and the Letten Foundation "
                f"awards the Letten Prize {year} to {planted} for "
                f"outstanding contributions to global research.",
                f"\"{planted} hails from a long line of researchers in "
                f"region {k % 9}.",
                f"In round {k % 9}, the committee met in Oslo. "
                f"<strong>Citation</strong> "
                f"<strong>Get to know the winner</strong> "
                f"<strong>{planted}</strong> praised by peers.",
            ][arm]
            s2 = {
                2018: (f"The laureate is affiliated with the University "
                       f"of Bergen Faculty {k % 5}. More details online."),
                2021: (f"The winner is affiliated with the Centre for "
                       f"Advanced Study {k % 5} where the research group "
                       f"meets weekly."),
                2023: (f"She is currently Assistant Professor at "
                       f"Institute Number {k % 7}, where she leads a "
                       f"laboratory."),
                2025: (f"The laureate works at the {_LP_MIT} in Cambridge."
                       if k % 2 == 0 else
                       f"The laureate works at a leading research "
                       f"university in area {k % 3}."),
            }[year]
            content = s1 + " " + s2 + (" " + _LP_PAD if k % 6 == 0 else "")
            text = _lp_clean(content) or ""
            laureate = _lp_name(title, text, content)
            given, family = _lp_split(laureate)
            amount, note = (("2000000", "Official 2018/2021 winner pages "
                             "state NOK 2,000,000.") if year <= 2021 else
                            ("2500000", "Official 2023 call/current "
                             "criteria state NOK 2,500,000."))
            item_date = f"{year}-06-{k % 20 + 2:02d}T10:00:00"
            expected[f"letten-prize-{year}-{_lp_slugify(laureate)}"] = {
                "source_record_id": str(1000000 + k * 100 + year % 100),
                "source_type": stype, "source_slug": sslug,
                "display_name": f"Letten Prize {year} - {laureate}",
                "description": _lp_description(text, laureate),
                "laureate_name": laureate, "given_name": given,
                "family_name": family,
                "affiliation": _lp_affiliation(year, text),
                "award_year": str(year), "award_date": item_date[:10],
                "amount": amount, "currency": "NOK", "amount_note": note,
                "funder_scheme": "Letten Prize", "funding_type": "prize",
                "landing_page_url": f"https://lettenprize.com/{sslug}/",
                "source_title": title,
                "source_modified":
                    f"{year}-07-{k % 18 + 3:02d}T12:30:00",
                "about_url": "https://lettenprize.com/about-letten-prize/",
                "criteria_url": "https://lettenprize.com/criteria/",
            }
    actual = _run(spark, sf_dir, "letten_parse_laureates")
    assert len(actual) == len(expected), (len(actual), len(expected))
    import hashlib as _h
    for r in actual:
        assert r.funder_award_id in expected, r.funder_award_id
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")
    # source_hash: sha256[:12] of the delivered raw payload (sha1
    # DEVIATION, mmw precedent) — spot-check one row, full coverage via
    # parity + golden
    one = actual[0]
    k = (int(one.source_record_id) - 1000000) // 100
    year = int(one.award_year)
    raw = f"letten-raw-{k}-{year}-{one.source_slug}"
    assert one.source_hash == _h.sha256(raw.encode()).hexdigest()[:12]


def test_letten_rule_tables_match_reference():
    """AST-pin CANONICAL_WINNERS, the split_name suffix set and the
    amount table against letten_prize_to_s3.py."""
    import ast
    import os

    ref = "/root/reference/scripts/local/letten_prize_to_s3.py"
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    from openalex_walden_spark.queries import lettenparse as port

    src = open(ref, encoding="utf-8").read()
    tree = ast.parse(src)
    found = {}
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)):
            name = node.targets[0].id
            if name in ("CANONICAL_WINNERS", "_SUFFIXES", "CURRENCY",
                        "FUNDER_SCHEME", "FUNDING_TYPE"):
                found.setdefault(name, ast.literal_eval(node.value))
    assert {y: (v["type"], v["slug"])
            for y, v in found["CANONICAL_WINNERS"].items()} == \
        port._CANONICAL_WINNERS
    assert {s.strip(",.") for s in found["_SUFFIXES"]} == set(port._SUFFIXES)
    assert found["CURRENCY"] == port._CURRENCY
    assert found["FUNDER_SCHEME"] == port._SCHEME
    assert found["FUNDING_TYPE"] == port._FUNDING_TYPE
    # the amount_for_year table lives in return literals — pin via source
    assert '"2000000", "Official 2018/2021 winner pages state NOK 2,000,000."' in src
    assert '"2500000", "Official 2023 call/current criteria state NOK 2,500,000."' in src
    assert port._AMOUNT_EARLY == (
        "2000000", "Official 2018/2021 winner pages state NOK 2,000,000.")
    assert port._AMOUNT_LATE == (
        "2500000", "Official 2023 call/current criteria state NOK 2,500,000.")


# ---------------------------------------------------------------------------
# Hilton Foundation grants (scripts/local/hilton_to_s3.py:139-144,
# 246-255, 277-312, 338-391)
# ---------------------------------------------------------------------------

_HF_MONTHS = {
    "january": 1, "february": 2, "march": 3, "april": 4, "may": 5,
    "june": 6, "july": 7, "august": 8, "september": 9, "october": 10,
    "november": 11, "december": 12,
}
_HF_PROG_MAP = {
    "safe-water": "Safe Water Initiative",
    "homelessness": "Homelessness",
}


def _hf_amount(s):
    if not s:
        return None
    m = re.search(r"\$\s*([0-9][0-9,]*(?:\.[0-9]+)?)", s)
    if not m:
        return None
    try:
        return float(m.group(1).replace(",", ""))
    except ValueError:
        return None


def _hf_year(s):
    if not s:
        return None
    m = re.search(r"([A-Za-z]+)\.?,?\s+(\d{4})", s)
    if m and m.group(1).lower() in _HF_MONTHS:
        return int(m.group(2))
    y = re.search(r"\b(19\d{2}|20\d{2})\b", s)
    return int(y.group(1)) if y else None


def test_hilton_matches_reference_semantics(spark, sf_dir, orders_rows):
    from html import unescape

    expected = {}
    for k, *_ in orders_rows:
        slug = f"grant-{k}"
        title = (None if k % 13 == 0 else unescape(
            f"World Resources Institute &amp; Partners {k}").strip())
        prog_slug = ["safe-water", "homelessness", "foster-youth", None,
                     "avoidable-blindness"][k % 5]
        area_slug = ["africa", "united-states", None][k % 3]
        grantee = None if k % 7 == 0 else f"Grantee Org Number {k % 50}"
        desc = (None if k % 4 == 0 else
                f"Support for program work stream {k % 17} in the region.")
        amount_raw = [
            f"${k % 9 + 1},{k % 1000:03d},000", "$2,500,000.50",
            "USD 100000", None, f"$ {100000 + k % 900}", "$750000"][k % 6]
        awarded = None if k % 8 == 0 else f"November, {2010 + k % 14}"
        start = [f"December {2011 + k % 13}", f"Fall {2012 + k % 12}",
                 None, "sometime soon"][k % 4]
        end = None if k % 5 == 0 else f"August, {2016 + k % 10}"
        term = None if k % 3 == 0 else f"{12 + k % 48} months"
        area = f"Region Block {k % 4}" if k % 6 == 0 else None
        priority = ["Yes", "No", None][k % 3]
        website = f"https://grantee{k % 100}.org/" if k % 2 == 0 else None

        amount = _hf_amount(amount_raw)
        awarded_year = _hf_year(awarded)
        start_year = _hf_year(start)
        if start_year is None:
            start_year = awarded_year
        program = None
        if prog_slug:
            program = (_HF_PROG_MAP.get(prog_slug)
                       or prog_slug.replace("-", " ").title())
        tm = re.search(r"\d+", term) if term else None
        expected[slug] = {
            "slug": slug,
            "title": grantee or title,
            "grantee_org": grantee or title,
            "description": desc,
            "program": program,
            "program_slug": prog_slug,
            "area_served": area or (area_slug.replace("-", " ").title()
                                    if area_slug else None),
            "amount": str(amount) if amount is not None else None,
            "amount_raw": amount_raw,
            "currency": "USD" if amount is not None else None,
            "awarded_year": str(awarded_year) if awarded_year else None,
            "start_year": str(start_year) if start_year else None,
            "end_year": str(_hf_year(end)) if _hf_year(end) else None,
            "term_months": str(int(tm.group(0))) if tm else None,
            "related_priority": priority,
            "website_url": website,
            "landing_page_url":
                f"https://www.hiltonfoundation.org/grant/{slug}/",
        }
    actual = _run(spark, sf_dir, "hilton_parse_grants")
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.funder_award_id in expected, r.funder_award_id
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


def test_hilton_rule_tables_match_reference():
    """AST-pin MONTHS, the regex trio and the grant-info label
    vocabulary against hilton_to_s3.py."""
    import ast
    import os

    ref = "/root/reference/scripts/local/hilton_to_s3.py"
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    from openalex_walden_spark.queries import hiltonparse as port

    src = open(ref, encoding="utf-8").read()
    tree = ast.parse(src)
    months = None
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
                and node.targets[0].id == "MONTHS"):
            months = ast.literal_eval(node.value)
    assert tuple(sorted(months, key=months.get)) == port._MONTHS
    assert r'\$\s*([0-9][0-9,]*(?:\.[0-9]+)?)' in src
    assert port._AMOUNT.replace("\\\\", "\\") == \
        r"\$\s*([0-9][0-9,]*(?:\.[0-9]+)?)"
    assert r'([A-Za-z]+)\.?,?\s+(\d{4})' in src
    assert port._MONTH_YEAR.replace("\\\\", "\\") == \
        r"([A-Za-z]+)\.?,?\s+(\d{4})"
    assert r'\b(19\d{2}|20\d{2})\b' in src
    assert port._BARE_YEAR.replace("\\\\", "\\") == r"\b(19\d{2}|20\d{2})\b"
    # the label vocabulary consumed from parse_detail
    for label in ("grantee name", "project description", "grant amount",
                  "awarded date", "project start date", "project end date",
                  "term (months)", "area served", "related priority",
                  "website url"):
        assert f'"{label}"' in src or f"'{label}'" in src, label


# ---------------------------------------------------------------------------
# Fondazione Telethon grants (scripts/local/telethon_to_s3.py:85-90,
# 105-112, 201-246, 301-391)
# ---------------------------------------------------------------------------

_TT_TOKENS = {
    "dr", "dr.", "dott", "dott.", "dottor", "dottoressa", "dssa", "d.ssa",
    "prof", "prof.", "professor", "professore", "professoressa",
    "mr", "mr.", "mrs", "mrs.", "ms", "ms.", "phd", "ph.d", "md", "m.d",
    "sig", "sig.", "sig.ra", "ing", "ing.",
}


def _tt_clean(val):
    if val is None:
        return None
    v = " ".join(str(val).split()).strip()
    if v in ("", "-", "–", "—", "/", "N/A", "n/a", "—/—"):
        return None
    return v


def _tt_amount(s):
    if not s:
        return None
    m = re.search("([\\d][\\d. \\s]*)\\s*€", s)
    if not m:
        return None
    digits = re.sub(r"[^\d]", "", m.group(1))
    return str(int(digits)) if digits else None


def _tt_years(s):
    if not s:
        return None, None
    yrs = re.findall(r"\b(?:19|20)\d{2}\b", s)
    start = yrs[0] if yrs else None
    end = yrs[-1] if len(yrs) >= 2 else None
    return start, end


def _tt_split_pi(name):
    name = _tt_clean(name)
    if not name:
        return None, None, None
    toks = [t for t in name.split() if t]
    norm = {h.strip(".") for h in _TT_TOKENS}
    kept = [t for t in toks if t.lower().strip(".") not in norm]
    if not kept:
        kept = toks
    full = " ".join(kept)
    if len(kept) == 1:
        return full, None, kept[0]
    return full, " ".join(kept[:-1]), kept[-1]


def test_telethon_matches_reference_semantics(spark, sf_dir, orders_rows):
    from html import unescape

    expected = {}
    for k, *_ in orders_rows:
        title_en = None if k % 3 == 0 else f"Gene therapy project {k}"
        title_it = (None if k % 9 == 0 else
                    f"Progetto di terapia genica  {k}")
        title_h1 = f"Progetto H1 {k}"
        pi = ["Prof. Anna Maria Bianchi", "Dott. Marco Verdi PhD",
              "D.ssa Elena  Russo", None, "Prof.", "Ing. Luca Ferrari Jr",
              "Giulia Esposito"][k % 7]
        inst = "-" if k % 5 == 0 else f"Istituto Telethon di Genetica {k % 12}"
        disease = [f"Distrofia muscolare tipo {k % 6}", "N/A", None,
                   None][k % 4]
        status = ["Concluso", "In corso", None][k % 3]
        scheme = f"Bando {2004 + k % 18}" if k % 6 == 0 else None
        amount_strong = [
            f"{100 + k % 900}.{k % 1000:03d}€",
            f"1 234 {k % 100:03d} €",
            f"{135900 + k % 100}€", None, "contributo gratuito"][k % 5]
        anni = [f"Anni {2004 + k % 16}/{2006 + k % 16}",
                f"Anni {2005 + k % 15}", None,
                f"Anni dal {2003 + k % 10} al {2011 + k % 10}"][k % 4]
        hrefs = [[f"https://europepmc.org/abstract/MED/{k}",
                  f"https://doi.org/10.1000/t{k}",
                  "https://www.fondazionetelethon.it/about",
                  f"https://europepmc.org/abstract/MED/{k}"],
                 [f"https://PubMed.ncbi.nlm.nih.gov/{k % 999}"],
                 [], []][k % 4]
        abstract = (f"<p>Il progetto studia &amp; analizza il gene "
                    f"{k % 13}.</p>" if k % 2 == 0 else None)

        papers, seen = [], set()
        for h in hrefs:
            if any(kk in h.lower() for kk in
                   ("europepmc", "doi.org", "ncbi.nlm", "pubmed")):
                if h not in seen:
                    seen.add(h)
                    papers.append(h)
        title = _tt_clean(title_en or title_it or title_h1)
        pi_full, pi_given, pi_family = _tt_split_pi(pi)
        amount = _tt_amount(amount_strong)
        sy, ey = _tt_years(anni)
        parts = []
        if _tt_clean(disease):
            parts.append(f"Malattie: {_tt_clean(disease)}")
        if _tt_clean(status):
            parts.append(f"Stato progetto: {_tt_clean(status)}")
        if abstract:
            ab = _tt_clean(unescape(re.sub(r"<[^>]+>", " ", abstract)))
            if ab:
                parts.append(ab)
        if papers:
            parts.append("Pubblicazioni: " + " ; ".join(papers))
        desc = "\n\n".join(p for p in parts if p) or None
        expected[f"telethon-{9000 + k}"] = {
            "title": title, "pi_full": pi_full, "pi_given": pi_given,
            "pi_family": pi_family, "institution": _tt_clean(inst),
            "amount": amount,
            "currency": "EUR" if amount else None,
            "scheme": _tt_clean(scheme),
            "start_date_raw": f"{sy}-01-01" if sy else None,
            "end_date_raw": f"{ey}-12-31" if ey else None,
            "description": desc,
            "landing_page_url":
                ("https://www.fondazionetelethon.it/cosa-facciamo/ricerca/"
                 f"progetti-finanziati/progetto-{k}/"),
        }
    actual = _run(spark, sf_dir, "telethon_parse_grants")
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.funder_award_id in expected, r.funder_award_id
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


def test_telethon_rule_tables_match_reference():
    """AST-pin TITLE_TOKENS and the amount/year regex pair against
    telethon_to_s3.py (the port stores the post-strip normalized
    forms actually compared)."""
    import ast
    import os

    ref = "/root/reference/scripts/local/telethon_to_s3.py"
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    from openalex_walden_spark.queries import telethonparse as port

    src = open(ref, encoding="utf-8").read()
    tree = ast.parse(src)
    toks = None
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
                and node.targets[0].id == "TITLE_TOKENS"):
            toks = ast.literal_eval(node.value)
    assert toks == set(port._TITLE_TOKENS)
    # the amount class carries an explicit NBSP (telethon:201)
    assert "([\\d][\\d. \\s]*)\\s*€" in src
    assert ("[0-9.  \\s]" in port._AMOUNT.replace("\\\\", "\\")
            or "[0-9. \\s]" in port._AMOUNT.replace("\\\\", "\\"))
    assert r'\b(?:19|20)\d{2}\b' in src
    for gate in ("europepmc", "doi.org", "ncbi.nlm", "pubmed"):
        assert gate in src
    assert port._CURRENCY == "EUR"


# ---------------------------------------------------------------------------
# Vilcek Foundation prizes (scripts/local/vilcek_prizes_to_s3.py:133-141,
# 253-328, 331-459)
# ---------------------------------------------------------------------------

_VK_FALLBACK = {
    "Vilcek Prize": 100_000.0,
    "Vilcek Prize for Excellence": 100_000.0,
    "Marica Vilcek Prize": 100_000.0,
    "Vilcek Prize for Creative Promise": 50_000.0,
    "Vilcek Prize for Creative Promise Honoree": None,
}
_VK_DEGREES = {"PhD", "Ph.D.", "Ph.D", "MD", "M.D.", "DPhil", "ScD",
               "Jr.", "Jr", "Sr.", "Sr", "II", "III", "IV"}
_VK_HON_RE = re.compile(
    r"^(?:Dr\.?|Prof\.?|Professor|Mr\.?|Ms\.?|Mrs\.?|Sir|Dame)\s+", re.I)


def _vk_strip(s):
    from html import unescape
    if not s:
        return None
    text = re.sub(r"<[^>]+>", " ", s)
    return unescape(re.sub(r"\s+", " ", text)).strip() or None


def _vk_amount(raw):
    if not raw:
        return None
    m = re.search(r"\$([\d,]+)", raw)
    if not m:
        return None
    try:
        return float(m.group(1).replace(",", ""))
    except ValueError:
        return None


def _vk_split(full):
    if not full:
        return None, None
    name = _VK_HON_RE.sub("", full).strip()
    parts = [p.strip() for p in name.replace(";", ",").split(",")]
    name = parts[0].strip()
    toks = name.split()
    suf = {s.rstrip(".") for s in _VK_DEGREES}
    while toks and toks[-1].rstrip(".") in suf:
        toks.pop()
    if not toks:
        return None, None
    if len(toks) == 1:
        return None, toks[0]
    return " ".join(toks[:-1]), toks[-1]


_VK_HONOREE = re.compile(r"honoree", re.I)


def _vk_scheme(terms):
    if not terms:
        return None
    non_h = [t for t in terms if not _VK_HONOREE.search(t[1])]
    if non_h:
        return non_h[0]
    return terms[0]


def test_vilcek_matches_reference_semantics(spark, sf_dir, orders_rows):
    from html import unescape

    P = "Vilcek Prize"
    CP = "Vilcek Prize for Creative Promise"
    HON = "Vilcek Prize for Creative Promise Honoree"
    MV = "Marica Vilcek Prize"
    EX = "Vilcek Prize for Excellence"
    TYPES = [
        [(P, "vilcek-prize")],
        [(HON, "vilcek-prize-for-creative-promise-honoree"),
         (CP, "vilcek-prize-for-creative-promise")],
        [(HON, "vilcek-prize-for-creative-promise-honoree")],
        [],
        [(MV, "marica-vilcek-prize")],
        [(EX, "vilcek-prize-for-excellence")],
    ]
    expected = {}
    for k, *_ in orders_rows:
        wp_slug = None if k % 11 == 0 else f"recipient-{k}"
        if k % 11 == 0:
            title = (f"<strong>Derived  Person &amp; Name {k} "
                     f"PhD</strong>")
        else:
            title = [
                f"Dr. Amit Sharma {k % 9} PhD", "Sir Paul Nurse",
                f"Jane Roe {k % 7}, M.D.", "Rihanna",
                "Prof. Dr. Lee Kim", f"Ana Maria {k % 5}; extra tag",
            ][k % 6]
        name = _vk_strip(title) or ""
        terms = TYPES[k % 6]
        scheme = _vk_scheme(terms)
        scheme_name = scheme[0] if scheme else None
        scheme_slug = scheme[1] if scheme else None
        year_terms = [
            [str(1995 + k % 30)],
            ["not-a-year", str(1995 + k % 30)],
            ["1980", str(1995 + k % 30)],
            [], ["abc"]][k % 5]
        year = None
        for yt in year_terms:
            try:
                y = int(yt.strip())
            except ValueError:
                continue
            if 1990 <= y <= 2030:
                year = y
                break
        if year is None:
            continue
        cats = [["Biomedical Science", "Arts"], ["Arts &amp; Humanities"],
                []][k % 3]
        category = unescape(cats[0]) if cats else None
        acf = ["$100,000", "", None, "$50,000", "one hundred grand"][k % 5]
        amount = _vk_amount(acf)
        if amount is None and scheme_name is not None:
            amount = _VK_FALLBACK.get(scheme_name)
        role = (None if k % 4 == 0 else
                f"Professor of Biology, Great University {k % 9}")
        bio_raw = [
            None, f"Short biography of recipient {k}.",
            f"Professor of Biology, Great University {k % 9}",
            f"Long biography segment {k % 8} with detail. " * 20 + "tail",
        ][k % 4]
        bio = _vk_strip(f"<p>{bio_raw}</p>") if bio_raw else None
        parts = []
        if role:
            parts.append(role)
        if bio and bio != role:
            if len(bio) > 600:
                bio = bio[:600].rsplit(" ", 1)[0] + "…"
            parts.append(bio)
        desc = " | ".join(parts) if parts else None
        loc = ["New York, NY", "Boston", None][k % 3]
        slug = wp_slug or re.sub(r"[^a-z0-9]+", "-", name.lower()).strip("-")
        given, family = _vk_split(name)
        expected[f"vilcek-{scheme_slug or 'unknown'}-{year}-{slug}"] = {
            "year": str(year), "slug": slug, "name": name,
            "given_name": given, "family_name": family,
            "scheme": scheme_name, "category": category,
            "affiliation": role, "location": loc,
            "country": "US" if loc and "," in loc else None,
            "display_name":
                f"{scheme_name or 'Vilcek Prize'} {year} — {name}",
            "description": desc,
            "amount": str(amount) if amount is not None else None,
            "currency": "USD" if amount is not None else None,
            "start_date": f"{year}-01-01", "end_date": f"{year}-12-31",
            "landing_page_url":
                f"https://vilcek.org/prizes/recipient-{k}/",
            "declined": "False"}
    actual = _run(spark, sf_dir, "vilcek_parse_prizes")
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.funder_award_id in expected, r.funder_award_id
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


def test_vilcek_rule_tables_match_reference():
    """AST-pin SCHEME_AMOUNT_FALLBACK, the degree/honorific tables and
    the honoree + amount regexes against vilcek_prizes_to_s3.py."""
    import ast
    import os

    ref = "/root/reference/scripts/local/vilcek_prizes_to_s3.py"
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    from openalex_walden_spark.queries import vilcekparse as port

    src = open(ref, encoding="utf-8").read()
    tree = ast.parse(src)
    found = {}
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)):
            name = node.targets[0].id
            if name in ("SCHEME_AMOUNT_FALLBACK", "_DEGREE_SUFFIXES"):
                found[name] = ast.literal_eval(node.value)
    assert found["SCHEME_AMOUNT_FALLBACK"] == port._SCHEME_AMOUNT_FALLBACK
    assert {s.rstrip(".") for s in found["_DEGREE_SUFFIXES"]} == \
        set(port._DEGREES)
    assert r"'^(?:Dr\.?|Prof\.?|Professor|Mr\.?|Ms\.?|Mrs\.?|Sir|Dame)\s+'" in src
    assert r"\$([\d,]+)" in src
    assert "r'honoree'" in src


# ---------------------------------------------------------------------------
# Nuffield Foundation projects (scripts/local/nuffield_to_s3.py:188-309,
# 380-446)
# ---------------------------------------------------------------------------

_NF_AMOUNT_RE = re.compile(
    r'icon\s+awarded\b[^>]*>(?:\s*<use[^>]*>\s*</use>)?\s*</svg>\s*'
    r'([£$€]?[\d,\.]+[KMm]?)', re.IGNORECASE)
_NF_DATE_RE = re.compile(
    r'icon\s+date\b[^>]*>(?:\s*<use[^>]*>\s*</use>)?\s*</svg>\s*'
    r'([^<]+?)\s*(?:</div>|<)', re.IGNORECASE | re.DOTALL)
_NF_THEME_RE = re.compile(
    r'icon\s+([a-z][a-z\-]+)\b[^>]*>(?:\s*<use[^>]*>\s*</use>)?\s*</svg>'
    r'\s*([^<]+?)\s*</div>', re.IGNORECASE)
_NF_RESEARCHERS_RE = re.compile(
    r'(?:Researchers?|Project lead|Lead\s+researcher)s?:\s*'
    r'((?:\s*<strong[^>]*>[^<]+</strong>\s*'
    r'(?:<span[^>]*>\s*\|\s*</span>)?)+)', re.IGNORECASE)
_NF_STRONG_RE = re.compile(r'<strong[^>]*>([^<]+)</strong>')
_NF_NON_THEME = {"awarded", "date", "calendar", "clock", "share",
                 "twitter", "facebook", "linkedin", "bsky", "email",
                 "print", "download", "bluesky", "instagram", "youtube",
                 "rss", "search", "menu"}
_NF_MONTH_YEAR_RE = re.compile(
    r'(January|February|March|April|May|June|July|August|September|'
    r'October|November|December)\s+(\d{4})', re.IGNORECASE)
_NF_MONTHS = {m.lower(): i + 1 for i, m in enumerate(
    ["January", "February", "March", "April", "May", "June", "July",
     "August", "September", "October", "November", "December"])}
_NF_PREFIXES = {"Dr", "Dr.", "Prof", "Prof.", "Professor", "Mr", "Mr.",
                "Mrs", "Mrs.", "Ms", "Ms.", "Sir", "Dame", "Lord", "Lady"}
_NF_DEGREES = {"PhD", "MD", "DPhil", "Jr.", "Sr.", "II", "III", "IV"}


def _nf_theme(html):
    for m in _NF_THEME_RE.finditer(html):
        icon_class = m.group(1).lower()
        text = re.sub(r'\s+', ' ', m.group(2)).strip()
        if icon_class in _NF_NON_THEME:
            continue
        if text.startswith(('£', '$', '€')):
            continue
        return text
    return None


def _nf_amount_f(raw):
    if not raw:
        return None
    s = re.sub(r'^[£$€]', '', raw.strip()).strip()
    mult = 1.0
    if s.endswith(('K', 'k')):
        mult, s = 1_000.0, s[:-1]
    elif s.endswith(('M', 'm')):
        mult, s = 1_000_000.0, s[:-1]
    try:
        return float(s.replace(',', '')) * mult
    except ValueError:
        return None


def _nf_dates(raw):
    if not raw:
        return (None, None)
    matches = _NF_MONTH_YEAR_RE.findall(raw)
    if not matches:
        return (None, None)

    def fmt(m):
        return f"{m[1]}-{_NF_MONTHS[m[0].lower()]:02d}-01"

    return (fmt(matches[0]),
            fmt(matches[1]) if len(matches) >= 2 else None)


def _nf_split(full):
    tokens = full.split()
    pre = {t.rstrip(".") for t in _NF_PREFIXES}
    suf = {s.rstrip(".") for s in _NF_DEGREES}
    while tokens and tokens[0].rstrip(".") in pre:
        tokens.pop(0)
    while tokens and tokens[-1].rstrip(".") in suf:
        tokens.pop()
    if not tokens:
        return ("", "")
    if len(tokens) == 1:
        return ("", tokens[0])
    return (" ".join(tokens[:-1]), tokens[-1])


def test_nuffield_matches_reference_semantics(spark, sf_dir, orders_rows):
    from html import unescape

    expected = {}
    for k, *_ in orders_rows:
        amount_block = [
            (f'<div><svg class="icon awarded " role="img">'
             f'<use xlink:href="#awarded"></use></svg>£{20 + k % 80},'
             f'{k % 1000:03d}</div>'),
            '<div><svg class="icon awarded"></svg>$2.5M</div>',
            f'<div><svg class="icon awarded"></svg>{100 + k % 900}K</div>',
            '', '<div><svg class="icon awarded"></svg>€1,000</div>',
        ][k % 5]
        date_block = [
            (f'<div><svg class="icon date"><use></use></svg>May '
             f'{2015 + k % 12}  -  April {2017 + k % 12}</div>'),
            (f'<div><svg class="icon date"></svg>June '
             f'{2014 + k % 12}</div>'),
            '<div><svg class="icon date"></svg>TBC</div>', '',
        ][k % 4]
        theme_block = (
            (f'<div><svg class="icon welfare"></svg>£5,000</div>'
             f'<div><svg class="icon justice"></svg>Justice {k % 6}</div>')
            if k % 3 != 0 else '')
        res_block = [
            (f'<p>Researchers: <strong>Dr Jane Doe {k % 9} PhD</strong>'
             f'<span> | </span><strong>Prof John Smith</strong></p>'),
            '<p>Project lead: <strong>Lady Ada Lovelace</strong></p>',
            ('<p>Lead researchers: <strong>M&amp;M Collective</strong>'
             '<span> | </span><strong>Cher</strong></p>'),
            '<p>No named team.</p>',
        ][k % 4]
        html = ('<div class="article-meta">' + amount_block + date_block
                + theme_block + '<div><svg class="icon share"></svg>'
                'Share this</div>' + res_block + '</div>')

        m = _NF_AMOUNT_RE.search(html)
        amount_raw = m.group(1).strip() if m else None
        m = _NF_DATE_RE.search(html)
        date_raw = re.sub(r'\s+', ' ', m.group(1)).strip() if m else None
        theme = _nf_theme(html)
        m = _NF_RESEARCHERS_RE.search(html)
        researchers = ([unescape(s.strip())
                        for s in _NF_STRONG_RE.findall(m.group(1))]
                       if m else [])
        content = re.sub(r'<[^>]+>', ' ',
                         f'<p>Summary &amp; findings for project {k} '
                         f'with detail {k % 23}.</p>')
        content = unescape(re.sub(r'\s+', ' ', content)).strip()
        amount = _nf_amount_f(amount_raw)
        start, end = _nf_dates(date_raw)
        lead = researchers[0] if researchers else ""
        lead_given, lead_family = _nf_split(lead) if lead else ("", "")
        co = researchers[1:] if len(researchers) > 1 else []
        expected[f"nuffield-project-{k}"] = {
            "wp_id": str(10000 + k), "slug": f"project-{k}",
            "title": unescape(f"Project title &amp; scope {k}"),
            "description": content[:5000] if content else None,
            "theme": theme,
            "amount": str(amount) if amount is not None else None,
            "currency": "GBP" if amount is not None else None,
            "start_date": start, "end_date": end,
            "lead_full_name": lead, "lead_given_name": lead_given,
            "lead_family_name": lead_family,
            "co_investigators": "|".join(co) if co else None,
            "landing_page_url":
                (f"https://www.nuffieldfoundation.org/project/"
                 f"project-{k}/"),
            "first_seen_date":
                f"20{10 + k % 15:02d}-03-{k % 27 + 1:02d}T09:00:00",
            "declined": "False"}
    actual = _run(spark, sf_dir, "nuffield_parse_projects")
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.funder_award_id in expected, r.funder_award_id
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


def test_nuffield_rule_tables_match_reference():
    """AST-pin _NON_THEME_ICONS, the prefix/degree sets and the icon
    regexes against nuffield_to_s3.py."""
    import ast
    import os

    ref = "/root/reference/scripts/local/nuffield_to_s3.py"
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    from openalex_walden_spark.queries import nuffieldparse as port

    src = open(ref, encoding="utf-8").read()
    tree = ast.parse(src)
    found = {}
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)):
            name = node.targets[0].id
            if name in ("_NON_THEME_ICONS", "_DEGREE_SUFFIXES",
                        "_PREFIX_TITLES"):
                found[name] = ast.literal_eval(node.value)
    assert found["_NON_THEME_ICONS"] == set(port._NON_THEME_ICONS)
    assert {t.rstrip(".") for t in found["_PREFIX_TITLES"]} == \
        set(port._PREFIX_TITLES)
    assert {s.rstrip(".") for s in found["_DEGREE_SUFFIXES"]} == \
        set(port._DEGREES)
    assert r"([£$€]?[\d,\.]+[KMm]?)" in src
    assert r"([^<]+?)\s*(?:</div>|<)" in src
    assert r"icon\s+([a-z][a-z\-]+)\b" in src
    assert r"(?:Researchers?|Project lead|Lead\s+researcher)s?:" in src


# ---------------------------------------------------------------------------
# Academy of Medical Sciences awards (scripts/local/acmedsci_to_s3.py:
# 65-95, 97-176, 179-213, 219-249)
# ---------------------------------------------------------------------------

_AM_LEAD_RE = re.compile(
    r"^(?:Dr|Professor|Prof|Mr|Mrs|Ms|Miss|Mx|Sir|Dame)\.?\s+", re.I)
_AM_POST = {
    "fmedsci", "frs", "frse", "frcp", "frcpath", "frcpe", "frcs",
    "frcpsych", "frcgp", "mbe", "obe", "cbe", "kbe", "dbe", "phd", "md",
    "dphil", "dsc", "scd", "msc", "ba", "bsc", "mb", "bch", "bchir",
    "mrcp", "facss", "fba", "frcr", "frcog", "frca", "ffph", "frcpch",
}
_AM_SUF = {"jr.", "sr.", "ii", "iii", "iv", "jr", "sr"}
_AM_INST_CONT = re.compile(
    r"^(University|College|Faculty|Medical School|Institute of|"
    r"School of Medicine)\b", re.I)


def _am_clean(v):
    if v is None:
        return None
    s = re.sub(r"\s+", " ", str(v)).strip().strip(",").strip()
    return s or None


def _am_strip_name(name):
    if not name:
        return None
    n = _AM_LEAD_RE.sub("", name).strip()
    n = re.sub(r"\([^)]*\)", "", n).strip()
    tokens = n.split()
    while tokens and tokens[-1].lower().strip(",.") in (_AM_POST | _AM_SUF):
        tokens.pop()
    return " ".join(tokens).strip(",").strip() or None


def _am_split(name):
    n = _am_strip_name(name)
    if not n:
        return None, None
    tokens = n.split()
    if len(tokens) == 1:
        return None, tokens[0]
    return " ".join(tokens[:-1]), tokens[-1]


def _am_slugify(*parts):
    import unicodedata
    s = " ".join(p for p in parts if p)
    s = unicodedata.normalize("NFKD", s).encode("ascii", "ignore").decode()
    s = re.sub(r"[^a-z0-9]+", "-", s.lower()).strip("-")
    return s[:120]


def _am_comma3(full):
    parts = [p.strip() for p in full.split(",")]
    if len(parts) < 3:
        return None
    name = parts[0]
    inst_fields = [parts[1]]
    ti = 2
    while ti < len(parts) - 1 and _AM_INST_CONT.match(parts[ti]):
        inst_fields.append(parts[ti])
        ti += 1
    institution = ", ".join(inst_fields)
    title = ", ".join(parts[ti:]).strip()
    if not title or len(title) < 8:
        return None
    return {"name": name, "institution": _am_clean(institution),
            "title": _am_clean(title), "mentor": None}


def _am_newton(full):
    m = re.match(r"(?P<name>.+?)\s+working with\s+(?P<mentor>.+?)\s+at\s+"
                 r"(?:the\s+)?(?P<inst>.+?),\s*(?P<title>.+)$", full, re.I)
    if not m:
        return None
    return {"name": m.group("name"),
            "institution": _am_clean(m.group("inst")),
            "title": _am_clean(m.group("title")),
            "mentor": _am_clean(m.group("mentor"))}


def _am_turnberg(full):
    m = re.match(r"(?P<name>.+?)\s+from\s+(?P<inst>.+?)\s+visiting\s+"
                 r"(?P<host>.+)$", full, re.I)
    if not m:
        return None
    host = _am_clean(m.group("host"))
    return {"name": m.group("name"),
            "institution": _am_clean(m.group("inst")),
            "title": (f"Daniel Turnberg Travel Fellowship visiting {host}"
                      if host else None),
            "mentor": None}


def _am_networking(full):
    m = re.match(r"(?P<a>.+?)\s*\((?P<ai>[^)]+)\)\s+and\s+(?P<b>.+?)\s*"
                 r"\((?P<bi>[^)]+)\)\s*(?P<title>.*)$", full, re.I)
    if not m:
        return None
    title = _am_clean(m.group("title"))
    if not title:
        return None
    return {"name": _am_clean(m.group("b")),
            "institution": _am_clean(m.group("bi")),
            "title": title, "mentor": _am_clean(m.group("a"))}


_AM_SCHEMES = [
    ("Springboard",
     "https://acmedsci.ac.uk/grants-and-schemes/grant-schemes/"
     "springboard/springboard-awardees", _am_comma3),
    ("Starter Grant for Clinical Lecturers",
     "https://acmedsci.ac.uk/grants-and-schemes/grant-schemes/"
     "starter-grants", _am_comma3),
    ("Newton International Fellowship",
     "https://acmedsci.ac.uk/grants-and-schemes/grant-schemes/"
     "newton-international-fellowships", _am_newton),
    ("Daniel Turnberg Travel Fellowship",
     "https://acmedsci.ac.uk/grants-and-schemes/grant-schemes/"
     "daniel-turnberg-travel-fellowship", _am_turnberg),
    ("Networking Grant", "https://acmedsci.ac.uk/networking-grants",
     _am_networking),
]


def test_acmedsci_matches_reference_semantics(spark, sf_dir, orders_rows):
    expected = {}
    for k, *_ in orders_rows:
        scheme, url, parser = _AM_SCHEMES[k % 5]
        if k % 5 == 0:
            full = [
                f"Dr Amelia Watson {k} FMedSci, University of Leeds, "
                f"Project on cell signalling {k % 9} mechanisms",
                f"Professor Ben Carter {k}, City St. George's, "
                f"University of London, Cohort analysis of rare disease "
                f"{k % 7}",
                f"Prof Dana Evans {k}, University of Oxford",
                f"Dr Eve Fox (Chair) {k}, Faculty of Medicine, Imperial "
                f"College London, Immune response mapping study {k % 6}",
            ][k % 4]
        elif k % 5 == 1:
            full = ("Springboard awardees:" if k % 7 == 0 else
                    f"Dr Gita Haran {k}, Newcastle University, Stem cell "
                    f"niche dynamics {k % 8}")
        elif k % 5 == 2:
            full = (f"Dr Fatima Khan {k} working with Professor Lee at "
                    f"the University of Cambridge, Mapping neural "
                    f"circuits {k % 7}")
        elif k % 5 == 3:
            full = (f"Dr Omar Haddad {k} from Cairo University visiting "
                    f"King's College London")
        else:
            full = (
                f"Dr Li Wei {k} (Fudan University) and Dr Grace Obi "
                f"(University of Manchester)" if k % 6 == 0 else
                f"Dr Li Wei {k} (Fudan University) and Dr Grace Obi {k} "
                f"(University of Manchester) Building stroke research "
                f"network {k % 6}")
        if len(full) < 18 or len(full) > 500 or full.endswith(":"):
            continue
        rec = parser(full)
        if not rec:
            continue
        given, family = _am_split(rec["name"])
        if not family:
            continue
        award_id = ("acmedsci-"
                    + _am_slugify(scheme, rec["name"], rec["institution"]))
        expected[award_id] = {
            "title": rec["title"], "pi_given": given, "pi_family": family,
            "institution": rec["institution"], "mentor": rec["mentor"],
            "funder_scheme": scheme, "landing_page_url": url}
    actual = _run(spark, sf_dir, "acmedsci_parse_awards")
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.funder_award_id in expected, r.funder_award_id
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


def test_acmedsci_rule_tables_match_reference():
    """AST-pin SCHEMES, POSTNOMINALS, SUFFIXES and the grammar regexes
    against acmedsci_to_s3.py."""
    import ast
    import os

    ref = "/root/reference/scripts/local/acmedsci_to_s3.py"
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    from openalex_walden_spark.queries import acmedsciparse as port

    src = open(ref, encoding="utf-8").read()
    tree = ast.parse(src)
    found = {}
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)):
            name = node.targets[0].id
            if name in ("SCHEMES", "POSTNOMINALS", "SUFFIXES"):
                found[name] = ast.literal_eval(node.value)
    assert found["POSTNOMINALS"] == set(port._POSTNOMINALS)
    assert {s.strip(",.") for s in found["SUFFIXES"]} == set(port._SUFFIXES)
    assert {(k, v["url"], v["parser"]) for k, v in
            found["SCHEMES"].items()} == \
        {(s[0], s[1], s[2]) for s in port._SCHEMES}
    assert r"^(?:Dr|Professor|Prof|Mr|Mrs|Ms|Miss|Mx|Sir|Dame)\.?\s+" in src
    assert (r"^(University|College|Faculty|Medical School|Institute of|"
            r"School of Medicine)\b") in src
    assert r"working with\s+(?P<mentor>.+?)\s+at\s+" in src
    assert r"\s+from\s+(?P<inst>.+?)\s+visiting\s+" in src


# ---------------------------------------------------------------------------
# Lasker Awards (scripts/local/lasker_to_s3.py:101-205)
# ---------------------------------------------------------------------------

def _lk_text(html):
    if not html:
        return ""
    return re.sub(r"\s+", " ", re.sub(r"<[^>]+>", " ", html)).strip()


def test_lasker_matches_reference_semantics(spark, sf_dir, orders_rows):
    expected = {}
    for k, *_ in orders_rows:
        lk = str(k)
        award = (None if k % 7 == 0 else
                 ["BASIC", "CLINICAL", "SPECIAL ACHIEVEMENT"][k % 3])
        year_name = [str(2000 + k % 26), str(2000 + k % 26), "TBD",
                     None][k % 4]
        year = int(year_name) if year_name and year_name.isdigit() else None
        title = _lk_text(f"<em>Triple-drug therapy {k % 17}</em>")
        excerpt = _lk_text(
            f'<p class="aw-sum">Summary of achievement {k % 11} with  '
            f'extra detail.</p>')[:1500]
        terms = [[f"Tsao{lk}, Doris Ying", f"Welsh{lk}, Michael J."],
                 [f"Tsao{lk}, Doris Ying", f"Welsh{lk}, Michael J."],
                 [f"Tsao{lk}, Doris Ying"], ["Rihanna"], []][k % 5]
        aw_pairs = [
            [(f"Doris Ying Tsao{lk}", f"Caltech Division {k % 6}"),
             (f"Michael J. Welsh{lk}", f"University of Iowa Dept {k % 8}")],
            [(f"Doris Ying Tsao{lk}", f"Caltech Division {k % 6}"),
             (f"Michael J. Welsh{lk}", f"University of Iowa Dept {k % 8}")],
            [(f"Doris Ying Tsao{lk}", f"Caltech Division {k % 6}")],
            [], []][k % 5]
        affil = {n.split()[-1].lower(): w for n, w in aw_pairs}
        for lpos, name_disp in enumerate(terms):
            if "," in name_disp:
                family, given = [s.strip()
                                 for s in name_disp.split(",", 1)]
            else:
                toks = name_disp.split()
                family = toks[-1] if toks else None
                given = " ".join(toks[:-1]) if len(toks) > 1 else None
            expected[f"laureate-{k}-{lpos}"] = {
                "wp_post_id": 50000 + k, "wp_slug": f"winners-{k}",
                "url": (f"https://laskerfoundation.org/winners/"
                        f"winners-{k}/"),
                "wp_date":
                    f"{2000 + k % 26}-09-{k % 24 + 2:02d}T08:00:00",
                "award_name": award, "year": year,
                "achievement_title": title,
                "laureate_name": name_disp,
                "laureate_given_name": given,
                "laureate_family_name": family,
                "laureate_term_id": 900000 + k * 10 + lpos,
                "affiliation": affil.get((family or "").lower()),
                "description": excerpt}
    actual = _run(spark, sf_dir, "lasker_parse_awards")
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.laureate_slug in expected, r.laureate_slug
        exp = expected[r.laureate_slug]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.laureate_slug}.{col}: {got!r} != {want!r}")


def test_lasker_rules_match_reference():
    """Pin the split/keying rules against lasker_to_s3.py source."""
    import os

    ref = "/root/reference/scripts/local/lasker_to_s3.py"
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    src = open(ref, encoding="utf-8").read()
    # 'Family, Given' first-comma split
    assert 'name_disp.split(",", 1)' in src
    # affiliation map keyed by lowered last aw-name token
    assert "full_name.split()[-1]" in src
    assert "out[family.lower()] = affiliation" in src
    # year isdigit gate and wrapper skip
    assert "y_str.isdigit()" in src
    assert "if not laureate_terms:" in src
    # excerpt truncation
    assert "[:1500]" in src


# ---------------------------------------------------------------------------
# CURE Epilepsy grants (scripts/local/cure_epilepsy_to_s3.py:50-62,
# 86-117, 148-166)
# ---------------------------------------------------------------------------

_CE_TITLE_RE = re.compile(r"^(Professor|Prof|Dr|Mr|Mrs|Ms|Miss)\.?\s+",
                          re.I)


def _ce_parse_pi(raw):
    if not raw:
        return None, None
    first = re.split(r";| and |&", raw)[0].strip()
    first = _CE_TITLE_RE.sub("", first).strip()
    first = re.sub(r",?\s*(PhD|MD|MBBS|DVM|PharmD|ScD|DO|MPH)\.?\s*$",
                   "", first, flags=re.I).strip().rstrip(",")
    parts = first.split()
    if len(parts) < 2:
        return (None, first or None)
    return " ".join(parts[:-1]), parts[-1]


def _ce_soup(html):
    from html import unescape
    text = re.sub(r"<[^>]+>", " ", html)
    return unescape(re.sub(r"\s+", " ", text)).strip() or None


def test_cure_epilepsy_matches_reference_semantics(spark, sf_dir,
                                                   orders_rows):
    expected = {}
    for k, *_ in orders_rows:
        title = (None if k % 13 == 0 else _ce_soup(
            f"<span>Targeting channelopathy &amp; seizure circuit "
            f"{k % 9}</span>"))
        desc = (None if k % 6 == 0 else _ce_soup(
            f"<p>Excerpt describing  aim {k % 11} of the project.</p>"))
        has_card = k % 5 != 0
        scheme = ["Taking Flight Award", "CURE Epilepsy Award", None,
                  f"Catalyst Award {k % 3}"][k % 4]
        pi_inst = [
            f"Dr. Maria Santos {k % 9}, PhD / Boston Children's Hospital",
            (f"Professor Anil Gupta {k % 8} and Dr Jane Lee / "
             f"University of Melbourne"),
            "Cher / Stanford University",
            f"Rafael Ortiz {k % 5} MBBS / Hospital Nacional; extra",
            "Ms Ada Byron-King", None,
            f"Wei Chen {k % 6} & Tomas Novak / Charles University",
        ][k % 7]
        pi_raw = inst = None
        if has_card and pi_inst and "/" in pi_inst:
            pi_raw, inst = [x.strip() for x in pi_inst.split("/", 1)]
        elif has_card and pi_inst:
            pi_raw = pi_inst.strip()
        given, family = _ce_parse_pi(pi_raw)
        expected[f"cure-{70000 + k}"] = {
            "title": title, "description": desc,
            "pi_given": given, "pi_family": family,
            "institution": inst,
            "programme": scheme if has_card else None,
            "landing_page_url":
                f"https://www.cureepilepsy.org/grant_type/grant-{k}/"}
    actual = _run(spark, sf_dir, "cure_epilepsy_parse_grants")
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.funder_award_id in expected, r.funder_award_id
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


def test_cure_epilepsy_rules_match_reference():
    """Pin the PI grammar against cure_epilepsy_to_s3.py source."""
    import os

    ref = "/root/reference/scripts/local/cure_epilepsy_to_s3.py"
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    from openalex_walden_spark.queries import cureepilepsy as port

    src = open(ref, encoding="utf-8").read()
    assert r'r"^(Professor|Prof|Dr|Mr|Mrs|Ms|Miss)\.?\s+"' in src
    assert r'r";| and |&"' in src
    assert r'(PhD|MD|MBBS|DVM|PharmD|ScD|DO|MPH)\.?\s*$' in src
    assert 'pi_inst.split("/", 1)' in src
    assert port._FIRST_SPLIT == ";| and |&"
    assert "(Professor|Prof|Dr|Mr|Mrs|Ms|Miss)" in port._TITLE_STRIP
    assert "(PhD|MD|MBBS|DVM|PharmD|ScD|DO|MPH)" in port._DEGREE_TAIL


# ---------------------------------------------------------------------------
# SSF grants (scripts/local/ssf_to_s3.py:56-89, 104-154)
# ---------------------------------------------------------------------------

def _ssf_ymd(tok):
    tok = tok.strip()
    m = re.match(r"(\d{2})(\d{2})(\d{2})$", tok)
    if not m:
        return None, None
    yy, mm, dd = int(m.group(1)), m.group(2), m.group(3)
    year = 2000 + yy if yy <= 40 else 1900 + yy
    return f"{year}-{mm}-{dd}", str(year)


def _ssf_pi(raw):
    raw = (raw or "").strip()
    if not raw:
        return None, None
    if "," in raw:
        family, given = raw.split(",", 1)
        return given.strip() or None, family.strip() or None
    parts = raw.split()
    if len(parts) < 2:
        return None, raw or None
    return " ".join(parts[:-1]), parts[-1]


def test_ssf_matches_reference_semantics(spark, sf_dir, orders_rows):
    expected = {}
    for k, *_ in orders_rows:
        slug = ["ramverk-bioteknik", "framtidens-forskningsledare",
                "strategisk-mobilitet", "industridoktorand",
                "smarta-system"][k % 5]
        if k % 9 == 0:
            slug += ("-omg" + chr(97 + k % 26) + chr(97 + (k // 26) % 26)
                     + chr(97 + (k // 676) % 26))
        if k % 3 == 0:
            slug += f"-{2012 + k % 12}"
        dnr = None if k % 9 == 0 else f"ARC{k % 24}-{k:04d}"
        titel = None if k % 11 == 0 else f"Projekt om materialdesign {k % 13}"
        if not (dnr or titel):
            continue
        pi = [f"Svensson {k % 7}, Anna Karin",
              f"Lars Erik Johansson {k % 6}", "Madonna", None,
              f"Nilsson,  Bo {k % 4}"][k % 5]
        area = None if k % 4 == 0 else f"Livsvetenskaperna {k % 5}"
        dates = [f"{k % 41:02d}0115 - {(k + 4) % 41:02d}1231",
                 (f"fr.o.m. {k % 41:02d}0301 – {(k + 3) % 41:02d}0630 "
                  f"enligt plan"),
                 "Pågående", None][k % 4]
        belopp = [f"{3 + k % 30} 000 000 SEK", f"{k % 900 + 100} kSEK",
                  None][k % 3]
        start_date = start_year = end_date = None
        dm = re.search(r"(\d{6})\s*[-–]\s*(\d{6})", dates or "")
        if dm:
            start_date, start_year = _ssf_ymd(dm.group(1))
            end_date, _ = _ssf_ymd(dm.group(2))
        given, family = _ssf_pi(pi)
        prog = (re.sub(r"-(\d{4})$", r" \1", slug).replace("-", " ")
                .strip().title())
        amount = re.sub(r"[^\d]", "", belopp) if belopp else None
        expected[dnr or f"ssf-{slug}-0"] = {
            "title": titel, "pi_given": given, "pi_family": family,
            "research_area": area, "amount": amount or None,
            "programme": prog, "start_date": start_date,
            "end_date": end_date, "start_year": start_year}
    actual = _run(spark, sf_dir, "ssf_parse_grants")
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.funder_award_id in expected, r.funder_award_id
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


def test_ssf_rules_match_reference():
    """Pin the SSF grammar against ssf_to_s3.py source."""
    import os

    ref = "/root/reference/scripts/local/ssf_to_s3.py"
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    src = open(ref, encoding="utf-8").read()
    assert "year = 2000 + yy if yy <= 40 else 1900 + yy" in src
    assert r'(\d{6})\s*[-–]\s*(\d{6})' in src
    assert 'raw.split(",", 1)' in src
    assert r're.sub(r"[^\d]", "", raw)' in src
    assert r're.sub(r"-(\d{4})$", r" \1", slug)' in src


# ---------------------------------------------------------------------------
# Keck Foundation PDF grants (scripts/local/keck_to_s3.py:77-147, 155-251)
# ---------------------------------------------------------------------------

_KK_CYCLE = re.compile(r"(?:^|_)([DJ])(\d{2})(?:_|$)")
_KK_PROG = re.compile(
    r"(?:^|_)(MR|SE|SoCal|Socal)(?:v\d+)?(?:_\d+|_emptyheader)?(?:_|$)",
    re.I)
_KK_PROG_NAME = {"MR": "Medical Research", "SE": "Science & Engineering",
                 "SoCal": "Southern California"}
_KK_AMOUNT = re.compile(r"^\$\s*([\d,]+)\s*$")
_KK_US = (
    "Alabama|Alaska|Arizona|Arkansas|California|Colorado|Connecticut|"
    "Delaware|Florida|Georgia|Hawaii|Idaho|Illinois|Indiana|Iowa|Kansas|"
    "Kentucky|Louisiana|Maine|Maryland|Massachusetts|Michigan|Minnesota|"
    "Mississippi|Missouri|Montana|Nebraska|Nevada|New Hampshire|"
    "New Jersey|New Mexico|New York|North Carolina|North Dakota|Ohio|"
    "Oklahoma|Oregon|Pennsylvania|Rhode Island|South Carolina|"
    "South Dakota|Tennessee|Texas|Utah|Vermont|Virginia|Washington|"
    "West Virginia|Wisconsin|Wyoming|D\\.C\\.")
_KK_CITY = re.compile(r"^.{1,45},\s*(?:[A-Z]{2}\.?|D\.C\.|(?:%s))\.?$"
                      % _KK_US)
_KK_MONTHYEAR = re.compile(
    r"^(January|February|March|April|May|June|July|August|September|"
    r"October|November|December)\s+20\d{2}$", re.I)
_KK_CATEGORY = re.compile(
    r"^(Civic (and|&) Community|Arts (and|&) Culture|Heal?th( Care)?|"
    r"Education|Precollegiate Education|Early Childhood|Community|"
    r"Human Services|Environment|Science (and|&) Engineering|"
    r"Medical Research)\b.*$", re.I)


def _kk_pi(raw):
    if not raw:
        return None, None
    first = re.split(r"\s*[,&]\s*", raw, maxsplit=1)[0].strip()
    first = re.sub(r"\s+", " ", first)
    if not first:
        return None, None
    parts = first.split()
    if len(parts) < 2:
        return None, first
    return " ".join(parts[:-1]), parts[-1]


def test_keck_matches_reference_semantics(spark, sf_dir, orders_rows):
    import hashlib

    expected = {}
    for k, *_ in orders_rows:
        stem = ["Abstracts_D25_MR", "Abstracts_J24_SE",
                "SoCal_Abstracts_J20", "Abstracts_D22_MRv3",
                "Abstracts_J19_Socal_emptyheader"][k % 5]
        cm = _KK_CYCLE.search(stem)
        year = ("20" + cm.group(2)) if cm else None
        pm = _KK_PROG.search(stem)
        code = {"mr": "MR", "se": "SE", "socal": "SoCal"}.get(
            pm.group(1).lower()) if pm else None
        amount_line = (f"$ {1 + k % 9},{k % 1000:03d},000" if k % 2 == 0
                       else f"${100 + k % 900},000  ")
        amount = _KK_AMOUNT.match(amount_line.strip()).group(1).replace(
            ",", "")
        above = [
            [f"Harvard University {k}", "Boston, MA",
             "Nicholas Polizzi, Edward Boyden"],
            [f"University of California, Berkeley {k}",
             "Berkeley, California", "Andrej Luptak & Jennifer Prescher"],
            [f"Boys & Girls Club {k}", "Civic and Community Services",
             "Los Angeles, CA"],
            [f"Some Museum {k}", "Pasadena, CA", "Arts & Culture"],
            [f"Community Org {k}", f"Downtown Branch Office {k}"],
            ["Grand Total Summary", "Boston, MA"],
            [f"Keck Institute {k}", "Washington, D.C.", "Cher"],
        ][k % 7]
        cand = [f"Engineering  quorum sensors {k % 9}",
                f"June {2015 + k % 10}", "Abstract prose begins here and",
                "", f"${100 + k % 50},000"][k % 5]
        nxt = "continues on this line" if k % 5 == 2 else ""
        if len(above) < 2:
            continue
        above_nc = [s for s in above if not _KK_CATEGORY.match(s.strip())]
        city = institution = pi_line = None
        for i, s in enumerate(above_nc):
            if _KK_CITY.match(s):
                city = s
                institution = above_nc[i - 1].strip() if i >= 1 else None
                if i + 1 < len(above_nc):
                    pi_line = above_nc[i + 1].strip()
                break
        if not city:
            institution = above_nc[0] if above_nc else None
            pi_line = None
        if (not institution or "total" in institution.lower()
                or _KK_CATEGORY.match(institution)):
            continue
        given = family = None
        if pi_line and code != "SoCal":
            given, family = _kk_pi(pi_line)
        title = None
        cand_s, nxt_s = cand.strip(), nxt.strip()
        if (cand_s and not nxt_s and not _KK_AMOUNT.match(cand_s)
                and not _KK_MONTHYEAR.match(cand_s)):
            title = re.sub(r"\s+", " ", cand_s)
        key = f"{year}|{institution}|{pi_line or ''}|{title or ''}".lower()
        aid = "keck-%s-%s" % (
            year, hashlib.md5(key.encode()).hexdigest()[:10])
        expected[aid] = {
            "title": title, "pi_given": given, "pi_family": family,
            "institution": institution, "city": city, "amount": amount,
            "program": _KK_PROG_NAME.get(code), "year_awarded": year,
            "landing_page_url":
                "https://www.wmkeck.org/research-current-grantees/"}
    actual = _run(spark, sf_dir, "keck_parse_grants")
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.funder_award_id in expected, r.funder_award_id
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


def test_keck_rule_tables_match_reference():
    """AST-pin PROG_NAME and the regex battery against keck_to_s3.py."""
    import ast
    import os

    ref = "/root/reference/scripts/local/keck_to_s3.py"
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    from openalex_walden_spark.queries import keckparse as port

    src = open(ref, encoding="utf-8").read()
    tree = ast.parse(src)
    prog = None
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
                and node.targets[0].id == "PROG_NAME"):
            prog = ast.literal_eval(node.value)
    assert prog == port._PROG_NAME
    assert r'(?:^|_)([DJ])(\d{2})(?:_|$)' in src
    assert r'(?:^|_)(MR|SE|SoCal|Socal)(?:v\d+)?(?:_\d+|_emptyheader)?(?:_|$)' in src
    assert r'^\$\s*([\d,]+)\s*$' in src
    assert r'^.{1,45},\s*(?:[A-Z]{2}\.?|D\.C\.|(?:%s))\.?$' in src
    assert "Heal?th( Care)?" in src
    assert r're.split(r"\s*[,&]\s*", raw, maxsplit=1)' in src
    assert 'hexdigest()[:10]' in src


# ---------------------------------------------------------------------------
# Warren Alpert Prize (scripts/local/warren_alpert_prize_to_s3.py:124-236)
# ---------------------------------------------------------------------------

def _wa_text(value):
    from html import unescape
    if not value:
        return None
    text = unescape(re.sub(r"<[^>]+>", " ", value))
    return re.sub(r"\s+", " ", text).strip() or None


def _wa_slug(text, max_len=90):
    text = text.lower()
    text = re.sub(r"[^a-z0-9]+", "-", text)
    text = re.sub(r"-+", "-", text).strip("-")
    return (text or "unknown")[:max_len].strip("-") or "unknown"


def test_warren_alpert_matches_reference_semantics(spark, sf_dir,
                                                   orders_rows):
    expected = {}
    for k, *_ in orders_rows:
        lk = (chr(65 + k % 26) + chr(97 + (k // 26) % 26)
              + chr(97 + (k // 676) % 26))
        label = [str(1990 + k % 30),
                 f"{1990 + k % 30}-{1991 + k % 30}",
                 f"Prize {1990 + k % 30}"][k % 3]
        years = [int(y) for y in re.findall(r"(?:19|20)\d{2}", label)]
        start_year, end_year = years[0], years[-1]
        desc = (None if k % 4 == 0 else _wa_text(
            f"<p>For discoveries in field &amp; area {k % 13}.</p>"))
        winners = [
            [],
            [("w1", "Carl", f"June{lk}", "",
              f"<p>Bio &amp; career {k}.</p>",
              [("Professor", "Harvard Medical School")],
              "https://img/1.jpg")],
            None, None][min(k % 9, 3)]
        if winners is None:
            w1 = ("w1", "Carl", f"June{lk}", "",
                  f"<p>Bio &amp; career {k}.</p>",
                  [("Professor", "Harvard Medical School")],
                  "https://img/1.jpg")
            w2 = ("w2", "", "", f"Dr. Unnamed Honoree {k}", None,
                  [("", ""), ("Director", f"Institute {k}")], None)
            w3 = ("w3", f"Mary{lk}", "O'Neill", "", "<p>Short  bio.</p>",
                  [], "https://img/3.jpg")
            winners = [w1, w2] if k % 9 == 2 else [w1, w2, w3]
        if not winners:
            continue
        per = 500_000.0 / len(winners)
        for pos, (wid, first, last, wtitle, bio, positions,
                  headshot) in enumerate(winners, start=1):
            full = " ".join(p for p in [first, last] if p).strip()
            if not full:
                full = wtitle.strip()
            parts = []
            for t, loc in positions:
                txt = " - ".join(p for p in [t.strip(), loc.strip()] if p)
                if txt:
                    parts.append(txt)
            aff = next((loc.strip() for t, loc in positions
                        if loc.strip()), None)
            aid = "warren-alpert-prize-{}-{}-{}".format(
                label.replace("-", "_"), pos, _wa_slug(full))
            expected[aid] = {
                "source_id": wid, "cohort_label": label,
                "source_year": str(end_year),
                "start_year_raw": str(start_year),
                "end_year_raw": str(end_year),
                "recipient_position": str(pos),
                "cohort_recipient_count": str(len(winners)),
                "recipient_name": full,
                "given_name": first or None, "family_name": last or None,
                "display_name":
                    f"Warren Alpert Foundation Prize {label} - {full}",
                "description": desc, "bio": _wa_text(bio),
                "positions_raw": "; ".join(parts) or None,
                "affiliation_raw": aff, "headshot_url": headshot,
                "amount": str(per), "currency": "USD",
                "funder_scheme": "Warren Alpert Foundation Prize",
                "start_date": f"{start_year}-01-01",
                "end_date": f"{end_year}-12-31",
                "landing_page_url":
                    "https://www.warrenalpert.org/prize-recipients/",
                "source_api_url":
                    "https://www.warrenalpert.org/wp-json/winners/v1/info",
                "amount_source_url": "https://www.warrenalpert.org/prize/",
                "provenance": "warren_alpert_prize"}
    actual = _run(spark, sf_dir, "warren_alpert_parse_prizes")
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.funder_award_id in expected, r.funder_award_id
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


def test_warren_alpert_rules_match_reference():
    """Pin the Warren Alpert grammar against the reference source."""
    import os

    ref = ("/root/reference/scripts/local/"
           "warren_alpert_prize_to_s3.py")
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    src = open(ref, encoding="utf-8").read()
    assert "COHORT_AMOUNT_USD = 500_000.0" in src
    assert r're.findall(r"(?:19|20)\d{2}"' in src
    assert 'COHORT_AMOUNT_USD / len(winners)' in src
    assert '"warren-alpert-prize-{}-{}-{}".format' in src
    assert 'label.replace("-", "_")' in src
    assert '" - ".join' in src and '"; ".join(parts)' in src
    assert 'max_len: int = 90' in src


# ---------------------------------------------------------------------------
# PCHRD ongoing projects (scripts/local/pchrd_to_s3.py:130-144, 204-266)
# ---------------------------------------------------------------------------

def _pch_clean(value):
    from html import unescape
    if value is None:
        return None
    text = re.sub(r"<[^>]+>", " ", str(value))
    text = unescape(text)
    return re.sub(r"\s+", " ", text).strip() or None


def _pch_date(value):
    if not value:
        return None
    m = re.match(r"^(\d{4}-\d{2}-\d{2})", str(value))
    return m.group(1) if m else None


def test_pchrd_matches_reference_semantics(spark, sf_dir, orders_rows):
    import json as _json

    CATS = ["Drug Discovery", "OMICS & Health", "Digital Health",
            "Nutrition"]
    AG = ["University of the Philippines Manila", "De La Salle University",
          "DOST Regional Office"]
    expected = {}
    for k, *_ in orders_rows:
        wp_id = "" if k % 17 == 0 else str(80000 + k)
        if not wp_id:
            continue
        title = (None if k % 13 == 0 else
                 f"<span>Genomic surveillance &amp; response study "
                 f"{k % 11}</span>")
        content = ("" if k % 5 == 0 else
                   f"<p>Ongoing  project content on topic {k % 19}.</p>")
        cats = [[CATS[0]], [CATS[1], CATS[2]], [], [CATS[3]]][k % 4]
        ags = [[AG[0], AG[1]], [AG[2]], []][k % 3]
        wp_date = ("not a date" if k % 7 == 0 else
                   f"{2015 + k % 11}-{k % 12 + 1:02d}-{k % 28 + 1:02d}"
                   f"T03:14:00")
        source_date = _pch_date(wp_date)
        modified = _pch_date(f"{2016 + k % 10}-02-{k % 27 + 1:02d}T11:00:00")
        page_no = (k // 50) % 20 + 1
        expected[f"pchrd-{wp_id}"] = {
            "wp_id": wp_id, "slug": f"project-{k}",
            "display_name": _pch_clean(title),
            "description": _pch_clean(content),
            "project_category": cats[0] if cats else None,
            "project_categories": _json.dumps(cats, ensure_ascii=False,
                                              sort_keys=True),
            "source_implementing_agency": ags[0] if ags else None,
            "implementing_agencies": _json.dumps(ags, ensure_ascii=False,
                                                 sort_keys=True),
            "source_posted_date": source_date,
            "source_modified_date": modified,
            "source_year": source_date[:4] if source_date else None,
            "landing_page_url":
                f"https://www.pchrd.dost.gov.ph/projects/project-{k}/",
            "source_api_url":
                (f"https://www.pchrd.dost.gov.ph/wp-json/wp/v2/"
                 f"ongoing_projects?per_page=50&page={page_no}"),
            "amount": None, "currency": None,
            "funder_id": "4320335609",
            "funder_display_name":
                "Philippine Council for Health Research and Development",
            "provenance": "pchrd_ongoing_projects"}
    actual = _run(spark, sf_dir, "pchrd_parse_projects")
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.funder_award_id in expected, r.funder_award_id
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


def test_pchrd_rules_match_reference():
    """Pin the PCHRD grammar against the reference source."""
    import os

    ref = "/root/reference/scripts/local/pchrd_to_s3.py"
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    src = open(ref, encoding="utf-8").read()
    assert r're.match(r"^(\d{4}-\d{2}-\d{2})"' in src
    assert 'f"pchrd-{wp_id}"' in src
    assert 'json.dumps(cat_names, ensure_ascii=False, sort_keys=True)' in src
    assert 'cat_names[0] if cat_names else None' in src
    assert 'source_date[:4] if source_date else None' in src
    assert '"amount": None' in src and '"currency": None' in src


# ---------------------------------------------------------------------------
# NOMIS Foundation projects (scripts/local/nomis_foundation_to_s3.py:
# 206-267)
# ---------------------------------------------------------------------------

_NM_YEAR = re.compile(r"\b(19[5-9]\d|20[0-3]\d)\b")
_NM_PAD = ("This project investigates the behavior of complex adaptive "
           "systems across scales and communities with careful "
           "longitudinal observation and rigorous theory. ") * 22


def _nm_strip(html):
    from html import unescape
    if not html:
        return ""
    text = re.sub(r"<[^>]+>", " ", html)
    return re.sub(r"\s+", " ", unescape(text)).strip()


def _nm_year(text, project_year):
    if not text:
        return project_year
    years = [int(m.group(1)) for m in _NM_YEAR.finditer(text[:3000])]
    candidates = [y for y in years if 2000 <= y <= 2030]
    if candidates:
        return min(candidates)
    return project_year


def test_nomis_matches_reference_semantics(spark, sf_dir, orders_rows):
    import json as _json

    ORGS = [("ETH Zurich", "eth-zurich"),
            ("University of Basel", "university-of-basel"),
            ("Santa Fe Institute", "santa-fe-institute")]
    expected = {}
    for k, *_ in orders_rows:
        title = ("" if k % 13 == 0 else
                 f"<h1>Minds &amp; machines {k % 9}</h1>")
        content = [
            (f"<p>The Question. Starting in {2010 + k % 15} the team "
             f"built on results first described in 1968 and the "
             f"{2005 + k % 20} cohort of fellows.</p>"),
            "<p>The Approach. No dates are mentioned here.</p>", "",
            (f"<p>{_NM_PAD} The award began in {2012 + k % 12}.</p>"),
            (f"<p>Work from 1955 and 1999 preceded the "
             f"{2001 + k % 25} grant.</p>")][k % 5]
        page_date = ("undated" if k % 11 == 0 else
                     f"{2016 + k % 10}-03-{k % 28 + 1:02d}T09:30:00")
        page_year = (int(page_date[:4]) if page_date[:4].isdigit()
                     else None)
        content_text = _nm_strip(content)
        award_year = _nm_year(content_text, page_year)
        names = [[ORGS[0][0]], [ORGS[1][0], ORGS[2][0]], [],
                 [ORGS[2][0]]][k % 4]
        slugs = [[ORGS[0][1]], [ORGS[1][1], ORGS[2][1]], [],
                 [ORGS[2][1]]][k % 4]
        expected[f"nomis-projekt-{k}"] = {
            "project_id": str(90000 + k), "slug": f"projekt-{k}",
            "title": _nm_strip(title),
            "link": f"https://nomisfoundation.ch/projects/projekt-{k}/",
            "page_date": page_date,
            "page_year": str(page_year) if page_year else None,
            "award_year": str(award_year) if award_year else None,
            "description": content_text[:5000] if content_text else None,
            "organization_names":
                _json.dumps(names, ensure_ascii=False) if names else None,
            "organization_slugs":
                _json.dumps(slugs, ensure_ascii=False) if slugs else None,
            "primary_organization": names[0] if names else None,
            "status": "draft" if k % 19 == 0 else "publish"}
    actual = _run(spark, sf_dir, "nomis_parse_projects")
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.funder_award_id in expected, r.funder_award_id
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


def test_nomis_rules_match_reference():
    """Pin the NOMIS grammar against the reference source."""
    import os

    ref = "/root/reference/scripts/local/nomis_foundation_to_s3.py"
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    src = open(ref, encoding="utf-8").read()
    assert r'\b(19[5-9]\d|20[0-3]\d)\b' in src
    assert "text[:3000]" in src
    assert "2000 <= y <= 2030" in src
    assert "return min(candidates)" in src
    assert "content_text[:5000]" in src
    assert 'json.dumps(org_names, ensure_ascii=False) if org_names else None' in src
    assert '"nomis-" + df["slug"]' in src


# ---------------------------------------------------------------------------
# Heineken Prizes (scripts/local/heineken_prizes_to_s3.py:114-130,
# 158-315)
# ---------------------------------------------------------------------------

_HK_PRIZE = {12: "Biochemistry and Biophysics", 13: "Art", 14: "Medicine",
             15: "History", 16: "Environmental Sciences",
             17: "Cognitive Science"}
_HK_HYSA = {301: "Humanities", 302: "Social Sciences",
            303: "Medical/Biomedical Sciences", 304: "Natural Sciences"}
_HK_MAP = {**{k: v for k, v in _HK_PRIZE.items() if k != 14}, **_HK_HYSA}


def _hk_clean(value):
    if value is None:
        return None
    value = value.replace("\xa0", " ")
    return re.sub(r"\s+", " ", value).strip() or None


def _hk_html(value):
    from html import unescape
    if not value:
        return None
    if "<" not in value and ">" not in value:
        return _hk_clean(value)
    return _hk_clean(unescape(re.sub(r"<[^>]+>", " ", value)))


def _hk_slug(text, max_len=90):
    text = text.lower()
    text = re.sub(r"[^a-z0-9]+", "-", text)
    text = re.sub(r"-+", "-", text).strip("-")
    return (text or "unknown")[:max_len].strip("-") or "unknown"


def _hk_split(name):
    name = _hk_clean(name)
    if not name:
        return None, None
    name = re.sub(r"^(Sir|Dame|Prof\.?|Professor|Dr\.?)\s+", "", name,
                  flags=re.I)
    parts = name.split()
    if len(parts) == 1:
        return None, parts[0]
    if (len(parts) >= 4
            and " ".join(p.lower() for p in parts[-3:-1]) == "van der"):
        return " ".join(parts[:-3]), " ".join(parts[-3:])
    if len(parts) >= 3 and parts[-2].lower() in {"de", "le", "ten", "ter",
                                                 "van", "von"}:
        return " ".join(parts[:-2]), " ".join(parts[-2:])
    return " ".join(parts[:-1]), parts[-1]


def _hk_scheme_year(excerpt):
    excerpt = _hk_clean(excerpt) or ""
    m = re.search(r"\b((?:19|20)\d{2})\s*$", excerpt)
    if not m:
        m = re.search(r"\b((?:19|20)\d{2})\b", excerpt)
    year = int(m.group(1))
    scheme = _hk_clean(excerpt[:m.start()]) or excerpt
    return scheme, year


def test_heineken_matches_reference_semantics(spark, sf_dir, orders_rows):
    expected = {}
    for k, *_ in orders_rows:
        cats = [[12], [13], [301], [302, 15], [999], [],
                [14, 888]][k % 7]
        cat_set = set(cats)
        if not cat_set & (set(_HK_PRIZE) | set(_HK_HYSA)):
            continue
        if cat_set & set(_HK_PRIZE):
            family = "heineken_prize"
        else:
            family = "heineken_young_scientists_award"
        field = None
        for cid in sorted(cat_set):
            if cid in _HK_PRIZE:
                field = _HK_MAP.get(cid) or _HK_PRIZE[cid]
                break
            if cid in _HK_HYSA:
                field = _HK_MAP.get(cid) or _HK_HYSA[cid]
                break
        lk = (chr(65 + k % 26) + chr(65 + (k // 26) % 26)
              + chr(65 + (k // 676) % 26))
        title = [
            f"<h2>Prof. Bernard Feringa{chr(65 + k % 26)}{k}</h2>",
            f"Titia de Lange{k}", f"Jan van der Berg{k}",
            f"Cher{lk}", f"Dame Janet Thompson{k}",
            f"M&amp;M Collective{k}"][k % 6]
        excerpt = [
            (f"Dr H.P. Heineken Prize for Biochemistry and Biophysics "
             f"{1990 + k % 35}"),
            f"The {1995 + k % 30} prize for history",
            (f"<em>Heineken Young Scientists Award</em> "
             f"{2010 + k % 15}  "),
            f"C.L. de Carvalho-Heineken Prize for Art {2000 + k % 25}",
            # year appears twice, tail-anchored: scheme keeps the first
            f"{1993 + k % 30} Symposium {1993 + k % 30}",
            # digit-glued fake year (no \b) before the real mid-string one
            (f"Ref{2001 + k % 20}0 archaeology prize "
             f"{1991 + k % 28} edition"),
        ][k % 6]
        content = (None if k % 5 == 0 else
                   f"<p>Laureate portrait &amp; citation text "
                   f"{k % 17}.</p>")
        nm = _hk_html(title)
        scheme, year = _hk_scheme_year(_hk_html(excerpt) or "")
        if family == "heineken_young_scientists_award":
            amount, currency = "15000.0", "EUR"
            amount_url = ("https://www.heinekenprizes.org/"
                          "heineken-young-scientists-awards/")
        elif field == "Art":
            amount, currency = "100000.0", "EUR"
            amount_url = "https://www.heinekenprizes.org/heineken-prizes/"
        else:
            amount, currency = "250000.0", "USD"
            amount_url = "https://www.heinekenprizes.org/heineken-prizes/"
        given, fam = _hk_split(nm)
        aid = f"heineken-{year}-{_hk_slug(scheme)}-{_hk_slug(nm)}"
        expected[aid] = {
            "source_post_id": str(60000 + k),
            "source_post_slug": f"laureaat-{k}",
            "display_name": f"{scheme} {year} - {nm}",
            "description": _hk_html(content),
            "source_year": str(year), "recipient_name": nm,
            "given_name": given, "family_name": fam,
            "award_family": family, "funder_scheme": scheme,
            "research_field": field, "amount": amount,
            "currency": currency,
            "start_date": f"{year}-01-01", "end_date": f"{year}-12-31",
            "landing_page_url":
                (f"https://www.heinekenprizes.org/portfolio/"
                 f"laureaat-{k}/"),
            "source_list_url":
                "https://www.heinekenprizes.org/list-of-laureates/",
            "amount_source_url": amount_url,
            "provenance": "heineken_prizes_wp"}
    actual = _run(spark, sf_dir, "heineken_parse_prizes")
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        assert r.funder_award_id in expected, r.funder_award_id
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            got = getattr(r, col)
            assert got == want, (
                f"{r.funder_award_id}.{col}: {got!r} != {want!r}")


def test_heineken_rule_tables_match_reference():
    """AST-pin both category tables and the grammar against
    heineken_prizes_to_s3.py."""
    import ast
    import os

    ref = "/root/reference/scripts/local/heineken_prizes_to_s3.py"
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    from openalex_walden_spark.queries import heinekenparse as port

    src = open(ref, encoding="utf-8").read()
    tree = ast.parse(src)
    found = {}
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)):
            name = node.targets[0].id
            if name in ("HEINEKEN_PRIZE_CATEGORY_IDS",
                        "HYSA_CATEGORY_IDS"):
                found[name] = ast.literal_eval(node.value)
    assert found["HEINEKEN_PRIZE_CATEGORY_IDS"] == port._PRIZE_IDS
    assert found["HYSA_CATEGORY_IDS"] == port._HYSA_IDS
    assert r'\b((?:19|20)\d{2})\s*$' in src
    assert r'^(Sir|Dame|Prof\.?|Professor|Dr\.?)\s+' in src
    assert '"van der"' in src
    assert '{"de", "le", "ten", "ter", "van", "von"}' in src
    assert '"15000.0", "EUR"' in src
    assert '"100000.0", "EUR"' in src
    assert '"250000.0", "USD"' in src


# ---------------------------------------------------------------------------
# CIFAR appointments (scripts/local/cifar_to_s3.py:133-139, 244-298,
# 323-331, 330-381, 512-529)
# ---------------------------------------------------------------------------

_CIF_PROGRAMS = {
    901: ("Quantum Materials", "quantum-materials"),
    902: ("Pan-Canadian AI Strategy", "pan-canadian-ai-strategy"),
    903: ("Child &amp; Brain Development", "child-brain-development"),
    904: ("Earth 4D", "earth-4d"),
    905: ("Humanity's Urban Future", "humanitys-urban-future"),
}
_CIF_ROLES = {
    801: "Fellow",
    802: "Advisory Committee Member",
    803: "Canada CIFAR AI Chair",
    804: "Fellowship Advisory Board",
    805: "Staff Liaison",
}
_CIF_INSTITUTIONS = {
    701: "University of Toronto",
    702: "MILA",
    703: "Health &amp; Medicine Institute",
}
_CIF_COUNTRIES = {601: "Canada", 602: "France"}
# the reference's rule tables verbatim (cifar_to_s3.py:133-139, :512)
_CIF_RESEARCH = (
    "fellow", "chair", "scholar", "researcher", "investigator",
    "co-director", "associate director", "program director",
    "program co-director",
)
_CIF_ADVISORY = ("advisor", "advisory", "committee")
_CIF_DEGREE_SUFFIXES = {"PhD", "MD", "DPhil", "Jr.", "Sr.", "II", "III",
                        "IV"}


def _cif_split(full):
    """split_name (cifar_to_s3.py:515-524): pop dot-insensitive degree
    suffixes from the end, then (given, family); empty STRINGS."""
    tokens = full.split()
    bare = {s.rstrip(".") for s in _CIF_DEGREE_SUFFIXES}
    while tokens and tokens[-1].rstrip(".") in bare:
        tokens.pop()
    if not tokens:
        return ("", "")
    if len(tokens) == 1:
        return ("", tokens[0])
    return (" ".join(tokens[:-1]), tokens[-1])


def _cif_classify(role_name):
    """classify_funding_type (:323-331): advisory beats research."""
    if not role_name:
        return "other"
    lower = role_name.lower()
    if any(k in lower for k in _CIF_ADVISORY):
        return "other"
    if any(k in lower for k in _CIF_RESEARCH):
        return "research"
    return "other"


def test_cifar_matches_reference_semantics(spark, sf_dir, orders_rows):
    from html import unescape

    expected = {}
    for k, *_ in orders_rows:
        prog_ids = [[], [901], [902, 903], [999, 904], [998],
                    [905, 901]][k % 6]
        if not prog_ids:  # :244-247 empty-program bios skipped
            continue
        role_ids = [[], [801], [777, 802], [803, 801], [804],
                    [805]][k % 6]
        inst_ids = [[], [701], [702, 703], [777, 701]][k % 4]
        country_ids = [[], [601], [602]][k % 3]
        title_html = [
            "Geoffrey Hinton", "Yoshua Bengio PhD",
            "Sir John A. Macdonald Jr.", "Cher",
            "Marie Curie-Sk&amp;odowska MD PhD", "PhD",
            "Jane  Doe ",
        ][k % 7]
        full_name = unescape(title_html)
        role_names = [_CIF_ROLES[r] for r in role_ids if r in _CIF_ROLES]
        inst_names = [_CIF_INSTITUTIONS[i] for i in inst_ids
                      if i in _CIF_INSTITUTIONS]
        country_names = [_CIF_COUNTRIES[c] for c in country_ids
                         if c in _CIF_COUNTRIES]
        given, family = _cif_split(full_name)
        bio_slug = f"bio-{k}"
        bio_date = f"{2015 + k % 10}-0{k % 9 + 1}-1{k % 9}T08:30:00"
        for pid in prog_ids:
            term = _CIF_PROGRAMS.get(pid)
            if not term:  # :273-275 unknown program ids skipped
                continue
            name_raw, slug = term
            aid = f"cifar-{slug}-{bio_slug}"
            assert aid not in expected  # :343-349 duplicate ids RAISE
            expected[aid] = {
                "bio_id": str(70000 + k),
                "bio_slug": bio_slug,
                "researcher_full_name": full_name,
                "researcher_given": given,
                "researcher_family": family,
                "program_id": str(pid),
                "program_name": unescape(name_raw),
                "program_slug": slug,
                # :284 role_id is the first RAW id, resolved or not
                "role_id": str(role_ids[0]) if role_ids else None,
                "role_name": role_names[0] if role_names else None,
                "all_roles": "|".join(role_names) if role_names else None,
                "institution_name":
                    inst_names[0] if inst_names else None,
                "all_institutions":
                    "|".join(inst_names) if inst_names else None,
                "country_name":
                    country_names[0] if country_names else None,
                "funding_type_hint":
                    _cif_classify(role_names[0] if role_names else None),
                "landing_page_url": f"https://cifar.ca/bios/bio-{k}/",
                "first_seen_date": bio_date,
                "declined": "False",
            }
    actual = _run(spark, sf_dir, "cifar_parse_appointments")
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            assert getattr(r, col) == want, (r.funder_award_id, col,
                                             getattr(r, col), want)


def test_cifar_rule_tables_match_reference_source():
    """AST-pin the keyword / suffix vocabularies against
    scripts/local/cifar_to_s3.py (:133-139, :512)."""
    import ast
    import os

    from openalex_walden_spark.queries import cifarparse as port

    ref = "/root/reference/scripts/local/cifar_to_s3.py"
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    src = open(ref, encoding="utf-8").read()
    tree = ast.parse(src)
    found = {}
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)):
            name = node.targets[0].id
            if name in ("RESEARCH_ROLE_KEYWORDS",
                        "ADVISORY_ROLE_KEYWORDS", "_DEGREE_SUFFIXES"):
                found[name] = ast.literal_eval(node.value)
    assert found["RESEARCH_ROLE_KEYWORDS"] == port._RESEARCH_ROLE_KEYWORDS
    assert found["RESEARCH_ROLE_KEYWORDS"] == _CIF_RESEARCH
    assert found["ADVISORY_ROLE_KEYWORDS"] == port._ADVISORY_ROLE_KEYWORDS
    assert found["ADVISORY_ROLE_KEYWORDS"] == _CIF_ADVISORY
    assert found["_DEGREE_SUFFIXES"] == _CIF_DEGREE_SUFFIXES
    # the port compares dot-insensitively, exactly as :514 does
    assert ({s.rstrip(".") for s in found["_DEGREE_SUFFIXES"]}
            == set(port._DEGREE_SUFFIXES))
    assert 'tokens[-1].rstrip(".")' in src
    # output schema has NO provenance/amount columns (:349-368 + header
    # waiver); the explode skips unknown terms, not unknown-id bios
    assert '"declined":             False' in src
    assert "if not term:" in src
    assert "if not programs:" in src


# ---------------------------------------------------------------------------
# Kauffman Foundation grants (scripts/local/kauffman_to_s3.py:156-160,
# 247-251, 294-372)
# ---------------------------------------------------------------------------

_KF_STATES = {401: "MO", 402: "KS", 403: "NY"}
_KF_STRATEGIES = {501: "Entrepreneurship", 502: "Education",
                  503: "Heartland Civic &amp; Policy"}
_KF_GRANT_TYPES = {601: "Grant", 602: "Program-Related Investment"}


def _kf_strip_tags(s):
    """_strip_tags (kauffman_to_s3.py:156-160) — reference verbatim
    semantics: tags -> space, ws-collapse, unescape, strip."""
    from html import unescape
    if not s:
        return ""
    s = re.sub(r"<[^>]+>", " ", s)
    return unescape(re.sub(r"\s+", " ", s)).strip()


def test_kauffman_matches_reference_semantics(spark, sf_dir, orders_rows):
    from html import unescape

    expected = {}
    # walk order == orders-key order: duplicates keep the FIRST key
    for k, *_ in sorted(orders_rows):
        if k % 11 == 0:  # :300-302 null wp_id skipped
            continue
        wp_id = 50000 + k % 900
        aid = f"kauffman-{wp_id}"
        if aid in expected:  # :303-306 silent keep-first dedupe
            continue
        title_raw = [
            f'<a href="#">University of Missouri {k}</a>',
            f"Kansas City Library &amp;amp; Archives {k}",
            "",
            f"Start  Up &amp; Grow {k} Inc.",
            f"Org {k}",
        ][k % 5]
        content_raw = ("" if k % 4 == 0 else
                       f"<p>Support for entrepreneurship program "
                       f"{k % 13}.</p>")
        amount_raw = ["", "0", "TBD", str(65000 + (k % 44) * 10000),
                      "12500.5", str(250000 + k % 17)][k % 6]
        approved_on = ["", "2019-06-15", "20XX-01-01", "abc",
                       f"{2010 + k % 15}-03-0{k % 9 + 1}"][k % 5]
        grantee_city = ["", "Kansas City", "St. Louis"][k % 3]
        grantee_url = ("" if k % 4 == 0
                       else f"https://grantee-{k % 50}.org")
        state_ids = [[], [401], [402, 401], [499, 403]][k % 4]
        strategy_ids = [[], [501], [502, 503]][k % 3]
        gtype_ids = [[], [601], [699, 602], [601, 602]][k % 4]

        # build_dataframe (:294-372), reference algorithm verbatim
        grantee = unescape(_kf_strip_tags(title_raw)) or None
        description = unescape(_kf_strip_tags(content_raw)) or None
        approved = approved_on or None
        start_year = None
        if approved and len(approved) >= 4 and approved[:4].isdigit():
            start_year = int(approved[:4])
        try:
            amount_f = (float(amount_raw)
                        if amount_raw not in (None, "", 0, "0") else None)
        except (TypeError, ValueError):
            amount_f = None
        states = [_KF_STATES[i] for i in state_ids if i in _KF_STATES]
        strategies = [_KF_STRATEGIES[i] for i in strategy_ids
                      if i in _KF_STRATEGIES]
        gtypes = [_KF_GRANT_TYPES[i] for i in gtype_ids
                  if i in _KF_GRANT_TYPES]
        scheme = (strategies[0] if strategies
                  else (gtypes[0] if gtypes else None))
        expected[aid] = {
            "wp_id": str(wp_id),
            "slug": f"grant-{k}",
            "grantee_org": grantee,
            "description": description,
            "amount": str(amount_f) if amount_f is not None else None,
            "currency": "USD" if amount_f is not None else None,
            "approved_on": approved,
            "start_year": (str(start_year) if start_year is not None
                           else None),
            "grantee_city": grantee_city or None,
            "grantee_state": states[0] if states else None,
            "grantee_url": grantee_url or None,
            "strategy": scheme,
            "strategies_all": ", ".join(strategies) or None,
            "grant_type": gtypes[0] if gtypes else None,
            "grant_types_all": ", ".join(gtypes) or None,
            "landing_page_url":
                f"https://www.kauffman.org/grants/grant-{k}/",
        }
    actual = _run(spark, sf_dir, "kauffman_parse_grants")
    assert len(actual) == len(expected), (len(actual), len(expected))
    for r in actual:
        exp = expected[r.funder_award_id]
        for col, want in exp.items():
            assert getattr(r, col) == want, (r.funder_award_id, col,
                                             getattr(r, col), want)


def test_kauffman_rules_match_reference_source():
    """Pin the coercion / dedupe / double-unescape rules against
    scripts/local/kauffman_to_s3.py."""
    import os

    ref = "/root/reference/scripts/local/kauffman_to_s3.py"
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    src = open(ref, encoding="utf-8").read()
    # keep-first dedupe is a silent continue, not a raise (:303-306)
    assert "if funder_award_id in seen_ids:\n            continue" in src
    # double unescape: _strip_tags unescapes, build unescapes again
    assert 'unescape(re.sub(r"\\s+", " ", s)).strip()' in src
    assert 'unescape(_strip_tags(r.get("title_raw") or "")) or None' in src
    # year guard and float-coercion sentinels verbatim
    assert 'approved_on[:4].isdigit()' in src
    assert 'amount not in (None, "", 0, "0")' in src
    # strategy falls back to grant-type; scheme fallback order pinned
    assert ('strategies[0] if strategies else '
            '(grant_types[0] if grant_types else None)') in src
    assert '"currency":          "USD" if amount_f is not None else None' in src


# ---------------------------------------------------------------------------
# Laureate-prize family (scripts/local/{kyoto_prize,japan_prize,
# brain_prize,king_faisal_prize}_to_s3.py)
# ---------------------------------------------------------------------------

_LP_SUFFIXES = {"phd", "md", "dphil", "dsc", "scd", "jr.", "sr.", "ii",
                "iii", "iv", "jr", "sr"}
_LP_BRAIN_PREFIXES = {"prof.", "professor", "dr.", "dr", "sir", "dame"}
_LP_KY_ORG = ("academy", "association", "center", "centre", "foundation",
              "institute", "institution", "laboratory", "organisation",
              "organization", "society", "university")
_LP_KF_ORG = ("academy", "association", "center", "centre", "foundation",
              "institute", "institution", "organization", "project",
              "society", "university")
# king_faisal_prize_to_s3.py:113-124 — the reference's REAL regex
_LP_KF_PREFIX_RE = re.compile(
    r"^(?:"
    r"Professor|Professsor|Prof\.|Doctor|Dr\.?|Mr\.?|Mrs\.?|Ms\.?|"
    r"Shaikh|Sheikh|Sayyid|Sir|Dame|President|Field Marshal|"
    r"H\.\s*E\.\s*Dr\.?|H\.\s*E\.|H\.E\.\s*Dr\.?|H\.E\.|"
    r"His Excellency|His Exellency|His Highness|His Majesty|HRH Prince|"
    r"The Honorable|Seri Dato|"
    r"Custodian of the Two Holy Mosques"
    r")(?:\s+|(?=[A-Z]))",
    flags=re.IGNORECASE,
)


def _lp_collapse(value, wide=False):
    if not value:
        return None
    if wide:
        value = value.replace("\xa0", " ").replace("　", " ")
    value = re.sub(r"\s+", " ", value).strip()
    value = re.sub(r"\s+([,;.:])", r"\1", value)
    return value or None


def _lp_slug(value):
    value = (value or "").lower()
    value = re.sub(r"[^a-z0-9]+", "-", value).strip("-")
    return value or "unknown"


def _lp_split(name, prefixes=False):
    """The kit splitter (japan_prize_to_s3.py:136-149; brain's :128-143
    variant also pops prefixes)."""
    if not name:
        return None, None
    tokens = name.split()
    if prefixes:
        while tokens and tokens[0].lower().strip(",.") in _LP_BRAIN_PREFIXES:
            tokens.pop(0)
    while tokens and tokens[-1].lower().strip(",.") in _LP_SUFFIXES:
        tokens.pop()
    if not tokens:
        return None, None
    if len(tokens) == 1:
        return None, tokens[0]
    return " ".join(tokens[:-1]), tokens[-1]


@pytest.fixture(scope="module")
def lp_rows(spark, sf_dir):
    rows = _run(spark, sf_dir, "laureate_prize_parse")
    by_member = {}
    for r in rows:
        by_member.setdefault(r.member, {})[r.funder_award_id] = r
    return by_member


def _lp_check(actual_map, expected):
    assert len(actual_map) == len(expected), (len(actual_map),
                                              len(expected))
    bad = []
    for aid, exp in expected.items():
        r = actual_map.get(aid)
        assert r is not None, aid
        for col, want in exp.items():
            got = getattr(r, col)
            if got != want:
                bad.append((aid, col, got, want))
    assert not bad, bad[:5]


def test_laureate_kyoto_matches_reference(lp_rows, orders_rows):
    expected = {}
    for k, *_ in orders_rows:
        yr = 1985 + k % 40
        name_raw = [f"Dr. Akira  Yoshino {k}", f"Tadashi Tokieda{k} PhD",
                    f"Stanford University Research Institute {k}",
                    f"Cher{k}", f"Jane Goodall {k} DSc,",
                    f"Li Wei {k}"][k % 6]
        center = [f"{yr} Laureate",
                  f"Commemorative20 {yr} Laureate {yr}",
                  f"X{yr}Y {1955 + k % 40} Laureate"][k % 3]
        field_raw = None if k % 7 == 0 else f"[Materials Science {k % 97}]"
        # parse_index_cards (:253-298)
        name = _lp_collapse(name_raw, wide=True)
        center_c = _lp_collapse(center, wide=True)
        m = re.search(r"(?:19|20)\d{2}", center_c or "")
        year = m.group(0)
        role = _lp_collapse((center_c or "").replace(year, "", 1),
                            wide=True)
        card_field = (_lp_collapse(field_raw.strip("[]"), wide=True)
                      if field_raw else None)
        card_cat = {0: "Advanced Technology", 1: "Basic Sciences",
                    2: "Arts and Philosophy", 3: None}[k % 4]
        # detail overlay (:397-400)
        d_field = f"Fine Ceramics {k % 89}" if k % 5 in (0, 1) else None
        d_cat = "Basic Sciences" if k % 5 == 0 else None
        d_role = ("Engineer Chemist" if k % 5 == 0 else None)
        field = d_field or card_field
        cat = d_cat or card_cat
        role_f = d_role or role
        is_org = any(h in name.lower() for h in _LP_KY_ORG)
        given, family = ((None, name) if is_org
                         else _lp_split(name))
        aid = f"kyoto-prize-{year}-{_lp_slug(field)}-{_lp_slug(name)}"
        expected[aid] = {
            "award_year": year, "laureate_name": name,
            "given_name": given, "family_name": family,
            "ky_prize_category": cat, "ky_prize_field": field,
            "ky_laureate_role": role_f,
            "is_organization_laureate":
                "true" if is_org else "false",
            "landing_page_url":
                (f"https://www.kyotoprize.org/en/laureates/"
                 f"profile-{k}/"),
            "ky_index_position": str(k + 1),
            "_year_field": (year, field), "_yr": year,
        }
    # apply_amounts (:349-369) over the FINAL (year, field)
    from collections import Counter
    counts = Counter(v["_year_field"] for v in expected.values())
    for v in expected.values():
        n = counts[v.pop("_year_field")]
        year = int(v.pop("_yr"))
        portion = 1.0 / n
        v["laureate_count"] = str(n)
        v["portion"] = f"{portion:.12g}"
        v["source_award_amount"] = (f"{100000000.0 * portion:.12g}"
                                    if year >= 2018 else None)
        v["currency"] = "JPY" if year >= 2018 else None
        v["ky_category_award_amount"] = ("100000000" if year >= 2018
                                         else None)
    _lp_check(lp_rows["kyoto_prize"], expected)


def test_laureate_japan_matches_reference(lp_rows, orders_rows):
    pages = ["laureates_by_year.html", "laureates_by_year2010.html",
             "laureates_by_year2000.html", "laureates_by_year1990.html",
             "laureates_by_year1980.html"]
    expected = {}
    for k, *_ in orders_rows:
        year_raw = "FY2020x" if k % 9 == 0 else f"FY {1985 + k % 40}"
        m = re.search(r"\b((?:19|20)\d{2})\b", year_raw)
        if not m:
            continue
        year = m.group(1)
        field = _lp_collapse(f"Physics, Chemistry {k % 23}")
        name_text = [
            f"Dr. Leo  Esaki{k} (b. 1925)", "[Commemorative Lecture]",
            "Lecture: Future of Semiconductors",
            f"Jun-ichi Nishizawa{k}",
            f"Mr. Kenichi Honda{k} （1925－2011）",
            f"Sir Timothy Berners-Lee{k} (2016 Laureate)"][k % 6]
        # clean_laureate_name (:267-276), reference regexes verbatim
        raw = _lp_collapse(name_text)
        life = None
        lm = re.search(r"[（(]([^()（）]*\d{4}[^()（）]*)[）)]", raw or "")
        if lm:
            life = _lp_collapse(lm.group(1))
        clean = re.sub(r"[（(][^()（）]*\d{4}[^()（）]*[）)]", "", raw or "")
        clean = re.sub(r"^(Prof\.|Dr\.|Mr\.|Ms\.|Sir|Dame)\s+", "",
                       clean).strip()
        name = _lp_collapse(clean)
        if not year or not field or not name:
            continue
        if name.startswith("[") or name.lower().startswith("lecture"):
            continue
        aff_next = ["[Japan] University of  Tokyo", "[USA] MIT Media Lab",
                    "Independent Researcher", None][k % 4]
        nat, aff = None, None
        text = _lp_collapse(aff_next)
        if text:
            am = re.match(r"^\[([^\]]+)\]\s*(.*)$", text)
            if am:
                nat = _lp_collapse(am.group(1))
                aff = _lp_collapse(am.group(2))
            else:
                aff = text
        given, family = _lp_split(name)
        href = (f"/en/laureates/profile{k}.html" if k % 3 < 2 else None)
        profile_url = f"https://www.japanprize.jp{href}" if href else None
        source_url = f"https://www.japanprize.jp/en/{pages[k % 5]}"
        pslug = (profile_url.rstrip("/").split("/")[-1]
                 .replace(".html", "") if profile_url
                 else _lp_slug(name))
        aid = (f"japan-prize-{year}-{_lp_slug(field)}-"
               f"{_lp_slug(pslug or name)}")
        expected[aid] = {
            "award_year": year, "laureate_name": name,
            "jp_laureate_name_raw": raw, "jp_life_dates": life,
            "given_name": given, "family_name": family,
            "jp_nationality": nat, "affiliation": aff,
            "jp_award_field": field,
            "jp_achievement": _lp_collapse(f"Discovery of  phenomenon "
                                           f"{k % 43}"),
            "landing_page_url": profile_url or source_url,
            "source_url": source_url,
            "jp_source_table_path": pages[k % 5],
            "source_award_amount": "100000000", "currency": "JPY",
        }
    _lp_check(lp_rows["japan_prize"], expected)


def test_laureate_brain_matches_reference(lp_rows, orders_rows):
    expected = {}
    for k, *_ in orders_rows:
        if k % 6 == 0:  # 'read …' labels are dropped (:247-249)
            continue
        yr = 2011 + k % 15
        count = 1 + yr % 3
        topic = f"Neural Circuits {yr}"
        year_page = f"https://brainprize.org/winners/{yr}"
        label = [None, f"Anna Svensson{k}", f"Dr. May-Britt Moser{k}",
                 f"Tim  Bliss{k}", f"Karl Deisseroth{k}",
                 f"Sir Adrian Bird{k}"][k % 6]
        h1 = {3: f"Professor Tim Bliss{k}",
              5: f"Adrian Bird{k} PhD"}.get(k % 6)
        meta_title = f"Prof. Edvard Moser{k}" if k % 6 == 2 else None
        prof_name = h1 or meta_title
        fallback = k % 6 == 1
        name = prof_name or _lp_collapse(label)
        given, family = _lp_split(name, prefixes=True)
        profile_url = (year_page if fallback
                       else f"{year_page}/profile-{k}")
        aid = (f"brain-prize-{yr}-{_lp_slug(topic)}-{_lp_slug(name)}")
        expected[aid] = {
            "award_year": str(yr), "laureate_name": name,
            "given_name": given, "family_name": family,
            "affiliation": (None if fallback else
                            (f"NTNU Centre {k % 13}"
                             if k % 6 in (2, 3) else None)),
            "landing_page_url": profile_url,
            "br_year_page_url": year_page,
            "br_award_topic": topic,
            "br_profile_bio": (None if fallback else
                               (_lp_collapse(f"Intro  paragraph "
                                             f"{k % 11}")
                                if k % 6 in (3, 5) else None)),
            "profile_description": (
                f"The {yr} Brain Prize for circuits" if fallback
                else (f"Profile of laureate {k % 17}"
                      if k % 6 in (2, 5) else None)),
            "br_year_description": f"The {yr} Brain Prize for circuits",
            "portion": f"{1 / count:.12g}",
            "laureate_count": str(count),
            "source_award_amount": "10000000", "currency": "DKK",
        }
    _lp_check(lp_rows["brain_prize"], expected)


def test_laureate_king_faisal_matches_reference(lp_rows, orders_rows):
    from collections import Counter

    def clean_name(name):
        # clean_laureate_name (:141-151), reference regexes verbatim
        name = _lp_collapse(name)
        if not name:
            return None
        name = re.sub(r"\b([A-Z])\.(?=[A-Z][a-z])", r"\1. ", name)
        previous = None
        while previous != name:
            previous = name
            name = _lp_collapse(_LP_KF_PREFIX_RE.sub("", name)) or ""
        return name or None

    def is_org(name):
        if not name:
            return False
        if any(t in name.lower() for t in _LP_KF_ORG):
            return True
        return bool(re.fullmatch(r"[A-Z0-9&.\- ]{3,}", name)
                    and " " not in name.strip("."))

    pre = {}
    for k, *_ in orders_rows:
        yr = 1979 + k % 46
        category = ["Medicine", "Science",
                    "Arabic Language & Literature", "Islamic Studies",
                    "Service to Islam"][k % 5]
        topic = _lp_collapse([None, f"Advances in gene  editing {k % 27}",
                              "Molecular Biology"][k % 3])
        country = ["Saudi Arabia", "Egypt", "USA", None][k % 4]
        official = [f"His Excellency Dr. Ahmed Zewail{k}",
                    f"Professor M.Salim Khan{k}", f"KFUPM{k}",
                    f"King Saud University{k}",
                    f"Custodian of the Two Holy Mosques "
                    f"Fahd bin Abdulaziz{k}",
                    f"Dr.Jane Goodall{k}"][k % 6]
        name_c = _lp_collapse(official)
        name = clean_name(official)
        # detail page (:313-321 citation grammar)
        dtext = [
            f"Overview. {name_c} was awarded the prize for work on "
            f"topic {k % 29}. Biography Early years follow.",
            'Topic: "Quantum Wells" profile without marker text.',
            f"Header. {name_c} was awarded the prize in recognition "
            f"of achievement {k % 31} continuing to the end",
            f"Intro. {name_c} WAS AWARDED THE PRIZE for "
            f"case-insensitive find {k % 17}. Laureate's Honoring "
            f"ceremony text"][k % 4]
        citation = None
        marker = " was awarded the prize "
        mpos = dtext.lower().find(marker)
        if mpos >= 0:
            ends = [i for i in [
                dtext.find(" Biography ", mpos),
                dtext.find(" Laureate's Honoring", mpos),
                dtext.find(" Laureate's Interview", mpos),
                dtext.find(" Laureate's Certificate", mpos),
                dtext.find(" Scientific Article", mpos)] if i >= 0]
            end = min(ends) if ends else len(dtext)
            tail = dtext[mpos + len(marker):end]
            citation = _lp_collapse(tail[:2000])
            if citation:
                citation = citation[0].upper() + citation[1:]
        # the reference's topic_detail regex demands a literal
        # backslash (r'Topic:\\s*"…"') — NEVER matches page text
        topic_detail = None
        tm = re.search(r'Topic:\\s*"([^"]+)"', dtext)
        if tm:  # pragma: no cover - proves the reference bug
            topic_detail = _lp_collapse(tm.group(1))
        org = is_org(name)
        given, family = ((None, name) if org else _lp_split(name))
        detail_slug = f"winner-{k}"
        aid = (f"king-faisal-prize-{yr}-{_lp_slug(category)}-"
               f"{_lp_slug(detail_slug)}")
        pre[aid] = {
            "_key": (yr, category),
            "award_year": str(yr), "laureate_name": name,
            "kf_official_laureate_name": name_c,
            "given_name": given, "family_name": family,
            "kf_award_category": category,
            "kf_topic": topic or topic_detail,
            "kf_country": country,
            "kf_topic_detail": topic_detail,
            "citation": citation,
            "is_organization_laureate": str(org).lower(),
            "landing_page_url":
                f"https://kingfaisalprize.org/winner-{k}/",
            "kf_detail_title": None if k % 5 == 0 else f"Winner {k}",
            "kf_quote": ("Science is hope" if k % 7 == 0 else None),
            "kf_meta_description": (
                f"Laureate recognised for achievement {k % 33}"
                if k % 4 == 2 else None),
            "kf_source_prize_amount_sar": "750000",
            "currency": "SAR",
        }
    counts = Counter(v["_key"] for v in pre.values())
    for v in pre.values():
        n = counts[v.pop("_key")]
        v["source_award_amount"] = f"{750000 / n:.2f}"
        v["laureate_count"] = str(n)
        v["portion"] = f"1/{n}" if n != 1 else "1"
    _lp_check(lp_rows["king_faisal_prize"], pre)


def test_laureate_rule_tables_match_reference_source():
    """AST-pin the four members' rule tables against their reference
    scripts."""
    import ast
    import os

    from openalex_walden_spark.queries import laureateprize as port

    def pinned(path, names):
        src = open(path, encoding="utf-8").read()
        tree = ast.parse(src)
        found = {}
        for node in ast.walk(tree):
            if (isinstance(node, ast.Assign) and len(node.targets) == 1
                    and isinstance(node.targets[0], ast.Name)
                    and node.targets[0].id in names):
                found[node.targets[0].id] = ast.literal_eval(node.value)
        return src, found

    base = "/root/reference/scripts/local/"
    if not os.path.isdir(base):
        pytest.skip("reference absent")
    src, f = pinned(base + "kyoto_prize_to_s3.py",
                    {"CATEGORY_BY_CLASS", "ORG_HINTS",
                     "CURRENT_CATEGORY_AMOUNT",
                     "CURRENT_AMOUNT_START_YEAR", "CURRENCY"})
    assert f["CATEGORY_BY_CLASS"] == port.KYOTO_CATEGORY_BY_CLASS
    assert f["ORG_HINTS"] == set(port.KYOTO_ORG_HINTS)
    assert f["CURRENT_CATEGORY_AMOUNT"] == 100000000.0
    assert f["CURRENT_AMOUNT_START_YEAR"] == 2018
    assert f["CURRENCY"] == "JPY"
    # no-\b year search + first-occurrence year replace + [] strip
    assert 're.search(r"(?:19|20)\\d{2}", center_text or "")' in src
    assert '.replace(year, "", 1)' in src
    assert '.strip("[]")' in src

    src, f = pinned(base + "japan_prize_to_s3.py",
                    {"SOURCE_AWARD_AMOUNT", "CURRENCY"})
    assert f["SOURCE_AWARD_AMOUNT"] == "100000000"
    assert f["CURRENCY"] == "JPY"
    kit = ('{"phd", "md", "dphil", "dsc", "scd", "jr.", "sr.", "ii", '
           '"iii", "iv", "jr", "sr"}')
    assert kit in src
    assert set(port.KIT_SUFFIXES) == {
        "phd", "md", "dphil", "dsc", "scd", "jr.", "sr.", "ii", "iii",
        "iv", "jr", "sr"}
    # \b-bounded year, life-dates group incl full-width parens,
    # single honorific strip, bracket affiliation grammar
    assert r'r"\b((?:19|20)\d{2})\b"' in src
    assert r'[（(]([^()（）]*\d{4}[^()（）]*)[）)]' in src
    assert r'^(Prof\.|Dr\.|Mr\.|Ms\.|Sir|Dame)\s+' in src
    assert r'^\[([^\]]+)\]\s*(.*)$' in src

    src, f = pinned(base + "brain_prize_to_s3.py",
                    {"SOURCE_TOTAL_AWARD_AMOUNT", "CURRENCY"})
    assert f["SOURCE_TOTAL_AWARD_AMOUNT"] == "10000000"
    assert f["CURRENCY"] == "DKK"
    assert ('{"prof.", "professor", "dr.", "dr", "sir", "dame"}'
            in src)
    assert set(port.BRAIN_PREFIXES) == {"prof.", "professor", "dr.",
                                        "dr", "sir", "dame"}
    assert 'label.lower().startswith("read ")' in src
    assert '{1 / int(laureate_count):.12g}' in src

    src, f = pinned(base + "king_faisal_prize_to_s3.py",
                    {"ORG_TERMS", "SOURCE_PRIZE_AMOUNT_SAR", "CURRENCY"})
    assert f["ORG_TERMS"] == set(port.KF_ORG_TERMS)
    assert f["SOURCE_PRIZE_AMOUNT_SAR"] == 750000
    assert f["CURRENCY"] == "SAR"
    # the mirror's REAL prefix regex is source-contained
    for frag in ('Professor|Professsor|Prof\\.|Doctor|Dr\\.?|Mr\\.?|',
                 'His Excellency|His Exellency|His Highness|His Majesty|',
                 'Custodian of the Two Holy Mosques',
                 r'(?:\s+|(?=[A-Z]))'):
        assert frag in src
    # glued-initials fix, citation marker + enders, and the
    # backslash-bugged topic regex verbatim
    assert r'\b([A-Z])\.(?=[A-Z][a-z])' in src
    assert '" was awarded the prize "' in src
    assert '" Biography "' in src and '" Scientific Article"' in src
    assert 'Topic:\\\\s*"([^"]+)"' in src
    assert 'f"{amount:.2f}"' in src

    src, f = pinned(base + "keio_medical_science_prize_to_s3.py",
                    {"AMOUNT_JPY", "CURRENCY", "PROVENANCE"})
    assert f["AMOUNT_JPY"] == 10_000_000.0
    assert f["CURRENCY"] == "JPY"
    assert f["PROVENANCE"] == "keio_medical_science_prize"
    # footnote grammar, global degree strip, no-\b year, the mode
    # machine headers, and the website intro skip
    assert r'\(\*+[^)]*\)' in src
    assert r'(M\.?D\.?|Ph\.?D\.?|D\.?V\.?M\.?|Dr\.?)' in src
    assert 're.search(r"(19|20)\\d{2}", year_text)' in src
    for header in ('"reason for selection"', '"background"',
                   '"comments"'):
        assert f'if lower == {header}:' in src
    assert 'lower.startswith("website")' in src
    assert 'details[row["laureate_position"] - 1]' in src

    src, f = pinned(base + "international_biology_prize_to_s3.py",
                    {"AMOUNT_JPY", "CURRENCY", "PROVENANCE"})
    assert f["AMOUNT_JPY"] == 10_000_000.0
    assert f["CURRENCY"] == "JPY"
    assert f["PROVENANCE"] == "international_biology_prize"
    # the shadowed-'Professor' honorific strip, the CASE-SENSITIVE
    # tail strip with the dead double-escaped Ph\\.D\\., the
    # year+edition grammar, the ' / ' recipient split, the intro
    # grammar with its ordered marker scan and <80 comma rule, and
    # the Japanese all-upper family rule
    assert r'^(Dr\.?|Prof\.?|Professor)\s*' in src
    assert r'\s+(FRS|FBA|MD|PhD|Ph\\.D\\.)$' in src
    assert r'((?:19|20)\d{2})\s+\((\d+)(?:st|nd|rd|th)\)' in src
    assert 'if " / " in line:' in src
    assert ('awards the {year} Prize in the field of '
            '[\\"“](.+?)[\\"”]\\s+to\\s+(.+)') in src
    assert ('[" Emeritus Professor", " Professor", " Senior", '
            '" Director", " Distinguished"]') in src
    assert 'tail_no_title.index(",") < 80' in src
    assert 'parts[0].isupper() and len(parts) >= 2' in src
    assert 'parts[0].title()' in src

    src, f = pinned(base + "welch_award_to_s3.py",
                    {"CATEGORY_AMOUNTS", "CATEGORY_SCHEMES", "CURRENCY",
                     "_DEGREE_SUFFIXES", "PROVENANCE"})
    assert f["CATEGORY_AMOUNTS"] == {
        "Welch Award In Chemistry": 500_000.0,
        "Norman Hackerman Award In Chemical Research": 100_000.0}
    assert f["CATEGORY_SCHEMES"] == {
        "Welch Award In Chemistry": "Welch Award in Chemistry",
        "Norman Hackerman Award In Chemical Research":
            "Norman Hackerman Award in Chemical Research"}
    assert f["CURRENCY"] == "USD"
    assert f["_DEGREE_SUFFIXES"] == {
        "PhD", "Ph.D.", "Ph.D", "MD", "M.D.", "DPhil", "ScD", "Jr.",
        "Jr", "Sr.", "Sr", "II", "III", "IV"}
    assert f["PROVENANCE"] == "welch_foundation"
    # honorific regex, ;->, comma head, unknown-category NULL amount,
    # the 1200-char rsplit cap, and the em-dash display rule
    assert (r'^(?:Dr\.?|Prof\.?|Professor|Mr\.?|Ms\.?|Mrs\.?|Sir|Dame)'
            r'\s+') in src
    assert 'name.replace(";", ",").split(",")' in src
    assert 'CATEGORY_AMOUNTS.get(cat_title)' in src
    assert 'description[:1200].rsplit(" ", 1)[0]' in src
    assert 'f"{scheme} {year} — {full_name}"' in src
    assert "f\"welch-{cat_slug or 'unknown'}-{year}-{slug}\"" in src


def test_laureate_keio_matches_reference(lp_rows, orders_rows):
    """keio_medical_science_prize_to_s3.py:141-362 — reference
    algorithm verbatim, including the section mode machine."""

    def norm(t):
        if t is None:
            return None
        c = re.sub(r"\s+", " ", t.replace("\xa0", " ")).strip()
        return c or None

    def keio_slug(text, max_len=80):
        text = re.sub(r"\(\*+[^)]*\)", "", text)
        text = text.lower()
        text = re.sub(r"[^a-z0-9]+", "-", text)
        text = re.sub(r"-+", "-", text).strip("-")
        return (text or "unknown")[:max_len].strip("-") or "unknown"

    def strip_degree(name):
        if not name:
            return None
        out = re.sub(r",?\s*(M\.?D\.?|Ph\.?D\.?|D\.?V\.?M\.?|Dr\.?)\.?",
                     "", name, flags=re.I)
        return norm(out)

    def split(name):
        name = strip_degree(name)
        if not name:
            return None, None
        parts = name.split()
        if len(parts) == 1:
            return None, parts[0]
        return " ".join(parts[:-1]), parts[-1]

    def section_fields(raw_lines):
        """The reference's mode machine (:231-258) over cleaned lines."""
        aff, mode = None, "intro"
        reason, comments = [], []
        for line in [norm(x) for x in raw_lines if norm(x)]:
            lower = line.lower()
            if lower == "reason for selection":
                mode = "reason"
                continue
            if lower == "background":
                mode = None
                continue
            if lower == "comments":
                mode = "comments"
                continue
            if mode == "intro":
                if aff is None and not lower.startswith("website"):
                    aff = line
            elif mode == "reason":
                reason.append(line)
            elif mode == "comments":
                comments.append(line)
        return aff, norm(" ".join(reason)), norm(" ".join(comments))

    LIST = "https://www.ms-fund.keio.ac.jp/en/prize/list.html"
    expected = {}
    for k, *_ in orders_rows:
        year_text = "TBA" if k % 11 == 0 else f"FY{1995 + k % 31}"
        m = re.search(r"(19|20)\d{2}", year_text)
        if not m:
            continue
        year = int(m.group(0))
        detail_url = (f"https://www.ms-fund.keio.ac.jp/en/prize/winners/"
                      f"w{k}.html" if k % 3 < 2 else None)
        lines = {
            1: (["Website: https://lab.example",
                 f"Kyoto  University {k % 13}", "Reason for selection",
                 f"Discovered reprogramming {k % 17}",
                 "of mature cells", "Background",
                 "Early career in Osaka", "Comments",
                 "Deeply honored by the prize"] if k % 3 == 0 else
                ([f"Stanford University {k % 19}",
                  "Reason for selection", f"Pioneering work {k % 23}",
                  "in adult neurogenesis"] if k % 3 == 1 else [])),
            2: ([f"MIT {k % 29}", "Reason for selection",
                 "Neural circuit mapping"] if k % 3 == 0 else []),
        }
        d_names = {1: (f"Shinya Yamanaka{k}, M.D." if k % 3 < 2
                       else None),
                   2: (f"Second Winner{k} Dr." if k % 3 == 0 else None)}
        raw_names = {
            1: [f"Shinya Yamanaka{k}, M.D., Ph.D.",
                f"Svante Paabo{k} (*)",
                f"Katalin Kariko{k} (** Nobel 2023)",
                f"Fred  Gage{k}", ""][k % 5],
            2: "" if k % 4 == 0 else f"Second Winner{k}",
        }
        for pos in (1, 2):
            raw = norm(raw_names[pos]) or ""
            notes = " ".join(re.findall(r"\(\*+[^)]*\)", raw)) or None
            name = norm(re.sub(r"\(\*+[^)]*\)", "", raw))
            if not name:
                continue
            has_section = bool(lines[pos])
            aff, reason, comments = (section_fields(lines[pos])
                                     if has_section
                                     else (None, None, None))
            given, family = split(name)
            aid = (f"keio-medical-science-prize-{year}-{pos}-"
                   f"{keio_slug(name)}")
            expected[aid] = {
                "award_year": str(year), "laureate_name": name,
                "given_name": given, "family_name": family,
                "affiliation": aff,
                "ke_display_name":
                    f"Keio Medical Science Prize {year} - {name}",
                "ke_description": reason, "ke_comments": comments,
                "ke_nobel_note": notes,
                "ke_laureate_position": str(pos),
                "ke_source_detail_name":
                    (strip_degree(d_names[pos]) if has_section
                     else None),
                "ke_start_date": f"{year}-01-01",
                "ke_end_date": f"{year}-12-31",
                "landing_page_url": detail_url or LIST,
                "source_url": LIST,
                "source_award_amount": "10000000.0",
                "currency": "JPY",
                "ke_funder_scheme": "Keio Medical Science Prize",
                "ke_provenance": "keio_medical_science_prize",
            }
    _lp_check(lp_rows["keio_medical_science_prize"], expected)


# ---------------------------------------------------------------------------
# Schmidt Sciences arm of the method-5 family
# (scripts/local/schmidt_sciences_to_s3.py:126-344)
# ---------------------------------------------------------------------------

_SCH_FOCUS = {
    "ai-advanced-computing": "AI & Advanced Computing",
    "astrophysics-space": "Astrophysics & Space",
    "biosciences": "Biosciences",
    "climate": "Climate",
    "science": "Science Systems",
}


def _sch_slug(s):
    s = re.sub(r"[^a-z0-9]+", "-", (s or "").lower()).strip("-")
    return s or "unknown"


def _sch_split(name):
    if not name:
        return None, None
    tokens = name.split()
    suf = {"phd", "md", "dphil", "dsc", "scd", "jr.", "sr.", "ii",
           "iii", "iv", "jr", "sr"}
    while tokens and tokens[-1].lower().strip(",.") in suf:
        tokens.pop()
    if not tokens:
        return None, None
    if len(tokens) == 1:
        return None, tokens[0]
    return " ".join(tokens[:-1]), tokens[-1]


def _sch_year_range(raw):
    if not raw or not raw.strip():
        return None, None
    years = []
    for p in [p.strip() for p in raw.split(",")]:
        try:
            y = int(p)
            if 1900 <= y <= 2100:
                years.append(y)
        except ValueError:
            pass
    if not years:
        return None, None
    return min(years), max(years)


def test_schmidt_matches_reference_semantics(spark, sf_dir, orders_rows):
    expected = {}
    for k, *_ in orders_rows:
        program = [None, "AI2050", "Schmidt Science Polymaths",
                   "AI in Sci"][k % 4]
        focus_slug = [None, "ai-advanced-computing", "biosciences",
                      "climate", "unknown-slug"][k % 5]
        year_raw = ["", "2023", "2020, 2021, 2022, 2023", "1850",
                    "TBD", " 2021 , 2024 "][k % 6]
        url = (f"https://www.schmidtsciences.org/grantee/jane-doe-{k}/"
               if k % 3 < 2 else None)
        term = (f"jane doe {k}" if k % 7 == 3
                else (f"12345 {k}" if k % 7 == 6 else None))
        focus_disp = _SCH_FOCUS.get(focus_slug) if focus_slug else None
        # the program / focus-area echoes are the page's own attributes
        texts = [[program or "", f"Jane Doe{k}"],
                 ["", focus_disp or "", f"Nadia Drake{k} PhD"],
                 ["x" * 85, f"Omar Farah{k}"],
                 [f"jane doe {k}"], [],
                 [f"X1 Research Collective {k}"],
                 [f"12345 {k}"]][k % 7]
        # parse_listing name walk (:252-275), reference logic verbatim
        name = None
        for t in texts:
            if not t:
                continue
            if program and t == program:
                continue
            if focus_slug and t == focus_disp:
                continue
            if term and t.lower() == term:
                name = t
                break
            if not name and len(t) < 80 and any(c.isalpha() for c in t):
                name = t
                break
        slug = None
        if url:
            m = re.search(r"/grantee/([^/]+)/?", url)
            if m:
                slug = m.group(1)
        if not name and slug:
            name = " ".join(p.capitalize() for p in slug.split("-"))
        if not name:
            continue
        start_year, end_year = _sch_year_range(year_raw)
        given, family = _sch_split(name)
        slug_final = slug or _sch_slug(name)
        # build_dataframe id (:337-341): fillna(0) year, 'none' program
        aid = (f"schmidt-{start_year if start_year is not None else 0}"
               f"-{_sch_slug(program or 'none')}-{slug_final}")
        assert aid not in expected, f"fixture collision on {aid}"
        expected[aid] = {
            "recipient": name, "given_name": given,
            "family_name": family, "slug": slug_final,
            "program": program, "subject": focus_slug,
            "focus_areas": focus_disp,
            "period_raw": year_raw or None,
            "start_year": (str(start_year)
                           if start_year is not None else None),
            "end_year": (str(end_year)
                         if end_year is not None else None),
            "term": term, "landing_page_url": url,
        }
    actual = {r.funder_award_id: r
              for r in _run(spark, sf_dir, "method5_parse_awards")
              if r.member == "schmidt_sciences"}
    assert len(actual) == len(expected), (len(actual), len(expected))
    for aid, exp in expected.items():
        r = actual.get(aid)
        assert r is not None, aid
        for col, want in exp.items():
            assert getattr(r, col) == want, (aid, col, getattr(r, col),
                                             want)


def test_method5_award_ids_unique_per_member(spark, sf_dir):
    """funder_award_id is each member's primary key: the references
    RAISE on a collision, so no member may emit one id twice."""
    from collections import Counter

    ids = Counter((r.member, r.funder_award_id)
                  for r in _run(spark, sf_dir, "method5_parse_awards"))
    dup = sorted(key for key, n in ids.items() if n > 1)
    assert not dup, f"{len(dup)} duplicate ids, e.g. {dup[:3]}"
    assert {m for m, _ in ids} >= {
        "aos", "mott", "helmsley", "fritz_thyssen", "mercator_fellows",
        "novo_nordisk_fonden", "rj_jubileumsfond", "wt_grant",
        "schmidt_sciences"}


def test_schmidt_constants_match_reference():
    import ast
    import os

    from openalex_walden_spark.queries import method5 as port

    ref = "/root/reference/scripts/local/schmidt_sciences_to_s3.py"
    if not os.path.exists(ref):
        pytest.skip("reference absent")
    src = open(ref, encoding="utf-8").read()
    tree = ast.parse(src)
    found = {}
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
                and node.targets[0].id in ("FOCUS_AREA_DISPLAY",
                                           "_SUFFIX_TOKENS")):
            found[node.targets[0].id] = ast.literal_eval(node.value)
    assert found["FOCUS_AREA_DISPLAY"] == dict(
        port.SCHMIDT_FOCUS_AREA_DISPLAY)
    assert found["FOCUS_AREA_DISPLAY"] == _SCH_FOCUS
    assert found["_SUFFIX_TOKENS"] == {
        "phd", "md", "dphil", "dsc", "scd", "jr.", "sr.", "ii", "iii",
        "iv", "jr", "sr"}
    # year gate, name-walk rules, slug regex, and the fillna(0) id rule
    assert "1900 <= y <= 2100" in src
    assert 'if term and t.lower() == term' not in src  # mirror-local name
    assert 't.lower() == li.get("data-term")' in src
    assert "len(t) < 80 and any(c.isalpha() for c in t)" in src
    assert r'/grantee/([^/]+)/?' in src
    assert 'part.capitalize() for part in slug.split("-")' in src
    assert 'df["start_year"].fillna(0).astype(int).astype(str)' in src
    assert 'df["program"].fillna("none").apply(slugify)' in src


def test_laureate_intl_biology_matches_reference(lp_rows, orders_rows):
    """international_biology_prize_to_s3.py:132-420 — reference
    algorithm verbatim, including the shadowed-'Professor' honorific
    strip and the detail-intro grammar."""

    def clean(v):
        if v is None:
            return None
        v = v.replace("　", " ").replace("\xa0", " ")
        v = re.sub(r"\s+", " ", v).strip()
        return v or None

    def cp(raw):
        raw = clean(raw)
        if not raw:
            return None
        raw = re.sub(r"^(Dr\.?|Prof\.?|Professor)\s*", "", raw,
                     flags=re.I)
        raw = re.sub(r"^(Sir|Dame)\s+", "", raw, flags=re.I)
        raw = re.sub(r"\s+(FRS|FBA|MD|PhD|Ph\\.D\\.)$", "", raw)
        raw = raw.strip(" ,;")
        return clean(raw)

    def split(name):
        name = cp(name)
        if not name:
            return None, None
        parts = name.split()
        if len(parts) == 1:
            return None, parts[0]
        if parts[0].isupper() and len(parts) >= 2:
            return " ".join(parts[1:]), parts[0].title()
        return " ".join(parts[:-1]), parts[-1]

    def recipient_line(line):
        line = re.sub(r"^Recipient\s*:\s*", "", line, flags=re.I)
        if " / " in line:
            name, aff = line.split(" / ", 1)
        else:
            name, aff = line, None
        return cp(name), clean(aff)

    def detail_intro(text, year):
        text = clean(text) or ""
        m = re.search(
            rf"awards the {year} Prize in the field of [\"“](.+?)[\"”]"
            rf"\s+to\s+(.+)", text, flags=re.I)
        if not m:
            return None, None, None
        field = clean(m.group(1))
        tail = clean(m.group(2)) or ""
        tail = tail.replace("Dr.", "Dr. ").replace("Prof.", "Prof. ")
        tail = clean(tail) or ""
        tail_nt = cp(tail) or tail
        for marker in [" Emeritus Professor", " Professor", " Senior",
                       " Director", " Distinguished"]:
            idx = tail_nt.find(marker)
            if idx > 0:
                return cp(tail_nt[:idx]), clean(tail_nt[idx + 1:]), field
        if "," in tail_nt and tail_nt.index(",") < 80:
            name, aff = tail_nt.split(",", 1)
            return cp(name), clean(aff), field
        parts = tail_nt.split()
        if len(parts) >= 2:
            return (cp(" ".join(parts[:2])), clean(" ".join(parts[2:])),
                    field)
        return cp(tail_nt), None, field

    LIST = "https://www.jsps.go.jp/english/e-biol/02_recipients.html"
    expected = {}
    for k, *_ in orders_rows:
        shape = k % 8
        if shape < 6:
            year_label = ("Ceremony TBD" if k % 9 == 0
                          else f"{1985 + k % 38} ({k % 38 + 1}th)")
            m = re.search(r"((?:19|20)\d{2})\s+\((\d+)(?:st|nd|rd|th)\)",
                          clean(year_label) or "")
            if not m:
                continue
            year, edition = int(m.group(1)), m.group(2)
            recip = [f"Recipient: Prof.Motoo Kimura{k}",
                     f"Recipient : Dr. Edward O. Wilson{k}"
                     f" FRS / Harvard  University",
                     f"recipient: YAMANAKA Shinya{k}", "",
                     f"Recipient : Sir John Gurdon{k} PhD / Cambridge"
                     ][k % 5]
            recip_c = clean(recip)
            if not (recip_c and recip_c.lower().startswith("recipient")):
                continue
            name, aff = recipient_line(recip_c)
            if not name:
                continue
            field_line = [None,
                          f"Research field : Evolutionary Biology "
                          f"{k % 21}",
                          "Research field: Systematics"][k % 3]
            field = (clean(re.sub(r"^Research field\s*:\s*", "",
                                  clean(field_line), flags=re.I))
                     if field_line else None)
            landing = (f"https://www.jsps.go.jp/english/e-biol/"
                       f"02_recipients/awardee{k}.html"
                       if k % 2 == 0 else LIST)
            desc_raw = (f"Discovered  molecular evolution {k % 19}"
                        if k % 2 == 0 else None)
        else:
            year = 2023 + k % 2
            edition = str(year - 1984)
            intro = (
                f'The Society awards the {year} Prize in the field of '
                f'"Marine Biology {k % 11}" to Dr.Taylor Hughes{k}'
                f' Emeritus Professor of Biology, Kyoto University'
                if shape == 6 else
                f'JSPS awards the {year} Prize in the field of '
                f'“Cell Biology {k % 13}” to Maria Santos{k}'
                f', University of Lisbon')
            name, aff, field = detail_intro(intro, year)
            if not name:
                continue
            landing = (f"https://www.jsps.go.jp/english/e-biol/"
                       f"02_recipients/awardee{year}.html")
            desc_raw = f"Discovered  molecular evolution {k % 19}"
        # normalize_rows (:372-401)
        name_f = cp(name) or ""
        given, family = split(name_f)
        field_c = clean(field)
        desc = clean(desc_raw) or (
            f"International Prize for Biology in the field of "
            f"{field_c}." if field_c else None)
        aid = f"international-biology-prize-{year}-{_lp_slug(name_f)}"
        expected[aid] = {
            "award_year": str(year), "laureate_name": name_f,
            "given_name": given, "family_name": family,
            "affiliation": aff,
            "ib_display_name":
                f"International Prize for Biology {year} - {name_f}",
            "ib_description": desc,
            "ib_edition": str(edition),
            "ib_research_field": field_c,
            "ib_funder_scheme":
                field_c or "International Prize for Biology",
            "ib_start_date": f"{year}-01-01",
            "ib_end_date": f"{year}-12-31",
            "landing_page_url": landing, "source_url": LIST,
            "source_award_amount": "10000000.0", "currency": "JPY",
            "ib_provenance": "international_biology_prize",
        }
    _lp_check(lp_rows["international_biology_prize"], expected)


def test_laureate_welch_matches_reference(lp_rows, orders_rows):
    """welch_award_to_s3.py:122-378 — reference algorithm verbatim."""
    CAT_AMOUNTS = {"Welch Award In Chemistry": 500_000.0,
                   "Norman Hackerman Award In Chemical Research":
                       100_000.0}
    CAT_SCHEMES = {"Welch Award In Chemistry":
                       "Welch Award in Chemistry",
                   "Norman Hackerman Award In Chemical Research":
                       "Norman Hackerman Award in Chemical Research"}
    SUFFIXES = {"PhD", "Ph.D.", "Ph.D", "MD", "M.D.", "DPhil", "ScD",
                "Jr.", "Jr", "Sr.", "Sr", "II", "III", "IV"}
    pre_re = re.compile(
        r'^(?:Dr\.?|Prof\.?|Professor|Mr\.?|Ms\.?|Mrs\.?|Sir|Dame)\s+',
        re.I)

    def split(full_name):
        if not full_name:
            return None, None
        name = pre_re.sub("", full_name).strip()
        parts = [p.strip() for p in name.replace(";", ",").split(",")]
        name = parts[0].strip()
        toks = name.split()
        bare = {s.rstrip(".") for s in SUFFIXES}
        while toks and toks[-1].rstrip(".") in bare:
            toks.pop()
        if not toks:
            return None, None
        if len(toks) == 1:
            return None, toks[0]
        return " ".join(toks[:-1]), toks[-1]

    def strip_html(s):
        from html import unescape
        if not s:
            return None
        text = re.sub(r'<[^>]+>', ' ', s)
        return unescape(re.sub(r'\s+', ' ', text)).strip() or None

    expected = {}
    for k, *_ in orders_rows:
        cat_title = [None, "Welch Award In Chemistry",
                     "Norman Hackerman Award In Chemical Research",
                     "Mystery Category",
                     "Welch Award In Chemistry"][k % 5]
        cat_slug = [None, "welch-award-in-chemistry",
                    "norman-hackerman-award-in-chemical-research",
                    "mystery-category", None][k % 5]
        year = None if k % 7 == 0 else 1972 + k % 54
        if cat_title is None or year is None:  # :298-301, :311-313
            continue
        title = [f"Dr. Carolyn Bertozzi{k}, Ph.D.",
                 f"John Goodenough{k} Jr.", f"Tobin Marks{k}; FRS",
                 f"Cher{k}", f"Professor  R. B. Woodward{k}",
                 f"Ada Yonath{k}"][k % 6]
        entry_slug = f"recipient-{k}" if k % 3 < 2 else None
        blurb_raw = (f"<p>Pioneer of  bioorthogonal chemistry "
                     f"{k % 23}</p>" if k % 4 in (1, 3) else None)
        fulldesc_raw = [
            None,
            f"<p>Pioneer of  bioorthogonal chemistry {k % 23}</p>",
            f"<div>Career spanning decades {k % 29} &amp; "
            f"counting</div>",
            "Long record: " + "chemistry breakthroughs " * 60][k % 4]
        aff_raw = (f"<em>Stanford &amp; Caltech {k % 31}</em>"
                   if k % 2 == 0 else None)
        amount = CAT_AMOUNTS.get(cat_title)
        scheme = CAT_SCHEMES.get(cat_title) or cat_title
        slug = entry_slug or re.sub(r'[^a-z0-9]+', '-',
                                    title.lower()).strip('-')
        aid = f"welch-{cat_slug or 'unknown'}-{year}-{slug}"
        given, family = split(title)
        blurb = strip_html(blurb_raw)
        full_desc = strip_html(fulldesc_raw)
        if blurb and full_desc and blurb != full_desc:
            description = f"{blurb} {full_desc}"
        else:
            description = blurb or full_desc
        if description and len(description) > 1200:
            description = description[:1200].rsplit(" ", 1)[0] + "…"
        expected[aid] = {
            "award_year": str(year), "laureate_name": title,
            "given_name": given, "family_name": family,
            "affiliation": strip_html(aff_raw),
            "wl_category_title": cat_title,
            "wl_category_slug": cat_slug,
            "wl_scheme": scheme,
            "wl_slug": slug,
            "wl_blurb": blurb,
            "wl_description": description,
            "wl_display_name": f"{scheme} {year} — {title}",
            "source_award_amount": (str(amount)
                                    if amount is not None else None),
            "currency": "USD" if amount is not None else None,
            "wl_start_date": f"{year}-01-01",
            "wl_end_date": f"{year}-12-31",
            "landing_page_url":
                f"https://welch1.org/awards/recipient-{k}",
            "wl_is_past_recipient": ("True" if k % 2 == 0
                                     else "False"),
            "wl_declined": "False",
        }
    _lp_check(lp_rows["welch_award"], expected)


def test_laureate_macarthur_matches_reference(lp_rows, orders_rows):
    """macarthur_fellows_to_s3.py:133-363 — reference algorithm
    verbatim (splitter/strip_html byte-identical to welch's)."""
    SUFFIXES = {"PhD", "Ph.D.", "Ph.D", "MD", "M.D.", "DPhil", "ScD",
                "Jr.", "Jr", "Sr.", "Sr", "II", "III", "IV"}
    pre_re = re.compile(
        r'^(?:Dr\.?|Prof\.?|Professor|Mr\.?|Ms\.?|Mrs\.?|Sir|Dame)\s+',
        re.I)

    def split(full_name):
        if not full_name:
            return None, None
        name = pre_re.sub("", full_name).strip()
        parts = [p.strip() for p in name.replace(";", ",").split(",")]
        name = parts[0].strip()
        toks = name.split()
        bare = {s.rstrip(".") for s in SUFFIXES}
        while toks and toks[-1].rstrip(".") in bare:
            toks.pop()
        if not toks:
            return None, None
        if len(toks) == 1:
            return None, toks[0]
        return " ".join(toks[:-1]), toks[-1]

    def strip_html(s):
        from html import unescape
        if not s:
            return None
        text = re.sub(r'<[^>]+>', ' ', s)
        return unescape(re.sub(r'\s+', ' ', text)).strip() or None

    expected = {}
    for k, *_ in orders_rows:
        year_str = (None if k % 7 == 0
                    else ("circa 2003" if k % 7 == 1
                          else str(1981 + k % 45)))
        if not year_str:
            continue
        try:
            year = int(year_str)
        except (TypeError, ValueError):
            continue
        name_s = (None if k % 5 == 0 else [
            f"Dr. Octavia Butler{k}, Ph.D.",
            f"Paul Rothemund{k} Jr.",
            f"Lin-Manuel Miranda{k}; composer", f"Cher{k}",
            f"Professor  Mary Zimmerman{k}", None][k % 6])
        meta_title = (None if (k % 6 == 5 and k % 5 != 0)
                      else f"Meta Fellow Title {k}")
        name = name_s or meta_title or ""
        url_path = (f"/fellows/class-of-{1981 + k % 45}/fellow-{k}"
                    if k % 3 < 2 else "")
        slug = (url_path.rsplit("/", 1)[-1] if url_path
                else re.sub(r'[^a-z0-9]+', '-', name.lower()).strip('-'))
        if not slug:
            continue
        given, family = split(name)
        field_title = (None if k % 4 == 0
                       else f"Molecular Biologist {k % 17} ")
        bio_raw = [None,
                   f"<p>Pioneering DNA  origami {k % 19} &amp; "
                   f"folding</p>",
                   "Long bio: " + "creative breakthroughs " * 40][k % 3]
        bio = strip_html(bio_raw)
        if bio and len(bio) > 800:
            bio = bio[:800].rsplit(" ", 1)[0] + "…"
        desc_parts = []
        if field_title:
            desc_parts.append(field_title.strip())
        if bio:
            desc_parts.append(bio)
        description = ". ".join(desc_parts) if desc_parts else None
        area = ((f"Sciences {k % 5}" if k % 2 == 0 else None)
                or ("science" if k % 3 == 0 else None))
        aid = f"macarthur-fellow-{year}-{slug}"
        expected[aid] = {
            "award_year": str(year), "laureate_name": name,
            "given_name": given, "family_name": family,
            "affiliation": f"Affiliation Org {k % 41}",
            "ma_slug": slug,
            "ma_field_title": field_title,
            "ma_area": area,
            "ma_country": ("United States" if k % 4 < 3 else None),
            "ma_age_at_award": (str(25 + k % 50) if k % 3 == 0
                                else None),
            "ma_display_name":
                f"MacArthur Fellowship {year} — {name}",
            "ma_description": description,
            "source_award_amount": "800000.0", "currency": "USD",
            "ma_start_date": f"{year}-01-01",
            "ma_end_date": f"{year + 4}-12-31",
            "landing_page_url":
                (f"https://www.macfound.org{url_path}" if url_path
                 else None),
            "ma_declined": "False",
        }
    _lp_check(lp_rows["macarthur_fellows"], expected)


def test_laureate_welch_macarthur_kit_pins():
    """Pin the welch/macarthur shared kit + macarthur constants."""
    import ast
    import os

    if not os.path.isdir("/root/reference/scripts/local"):
        pytest.skip("reference absent")
    for script in ("welch_award_to_s3.py", "macarthur_fellows_to_s3.py"):
        src = open(f"/root/reference/scripts/local/{script}",
                   encoding="utf-8").read()
        # the byte-identical splitter pair
        assert 'name.replace(";", ",").split(",")' in src
        assert 'toks[-1].rstrip(".")' in src
        assert (r'^(?:Dr\.?|Prof\.?|Professor|Mr\.?|Ms\.?|Mrs\.?|Sir'
                r'|Dame)\s+') in src
    src = open("/root/reference/scripts/local/macarthur_fellows_to_s3.py",
               encoding="utf-8").read()
    tree = ast.parse(src)
    found = {}
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
                and node.targets[0].id in (
                    "MACARTHUR_FELLOWSHIP_AMOUNT_USD", "CURRENCY",
                    "PROVENANCE")):
            found[node.targets[0].id] = ast.literal_eval(node.value)
    assert found["MACARTHUR_FELLOWSHIP_AMOUNT_USD"] == 800_000.0
    assert found["CURRENCY"] == "USD"
    assert found["PROVENANCE"] == "macarthur_fellows"
    assert 'url_path.rsplit("/", 1)[-1]' in src
    assert 'bio[:800].rsplit(" ", 1)[0]' in src
    assert '". ".join(desc_parts)' in src
    assert 'f"MacArthur Fellowship {year} — {name}"' in src
    assert 'f"{year+4}-12-31"' in src

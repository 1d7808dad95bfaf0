#!/usr/bin/env python3
"""Checks the scoring_pipeline outputs without Spark.

For a seeded sample of 990 filers and IPEDS units the indicators, the
null-renormalized domains, the completeness gate, the floors and the
composite are recomputed here from the raw CSVs, in plain Python, and
compared with the written parquet. On all rows it checks one row per key,
the richer-form order (STD before EZ before PF), scores within [0, 100]
or null, the floors, the planted subsidiaries and likely-closed units,
the latest-filing pick among same-type filings of one tax year, and that
the master's key set survives the write and the read-back.

`check()` returns {(operation, round): {failed check, ...}}.
"""
import csv
import glob
import json
import math
import os

import pyarrow.parquet as pq

YEARS = [2020, 2021, 2022, 2023, 2024]
STD_MAP = [("EIN", "ein_raw"), ("tax_pd", "tax_period"), ("totrevenue", "total_revenue"),
           ("totprgmrevnue", "program_revenue"), ("totcntrbgfts", "contributions"),
           ("invstmntinc", "investment_income"), ("totfuncexpns", "total_expenses"),
           ("compnsatncurrofcr", "comp_officers"), ("othrsalwages", "other_salaries"),
           ("pensionplancontrb", "pension_contrib"), ("othremplyeebenef", "other_benefits"),
           ("payrolltx", "payroll_tax"), ("profndraising", "fundraising_fees"),
           ("totassetsend", "total_assets"), ("totliabend", "total_liabilities"),
           ("totnetassetend", "net_assets"), ("unrstrctnetasstsend", "unrestricted_net_assets"),
           ("nonintcashend", "cash"), ("svngstempinvend", "savings"),
           ("accntsrcvblend", "receivables"), ("accntspayableend", "payables"),
           ("deferedrevnuend", "deferred_revenue"), ("secrdmrtgsend", "secured_mortgages"),
           ("unsecurednotesend", "unsecured_notes"), ("lndbldgsequipend", "fixed_assets"),
           ("paybletoffcrsend", "officer_loans"), ("currfrmrcvblend", "officer_receivables"),
           ("noemplyeesw3cnt", "employee_count"), ("ceaseoperationscd", "ceased_operations"),
           ("sellorexchcd", "sold_assets")]
EZ_MAP = [("EIN", "ein_raw"), ("taxpd", "tax_period"), ("totrevnue", "total_revenue"),
          ("prgmservrev", "program_revenue"), ("totcntrbs", "contributions"),
          ("othrinvstinc", "investment_income"), ("totexpns", "total_expenses"),
          ("totassetsend", "total_assets"), ("totliabend", "total_liabilities"),
          ("totnetassetsend", "net_assets"), ("contractioncd", "ceased_operations")]
PF_MAP = [("EIN", "ein_raw"), ("TAX_PRD", "tax_period"), ("TOTRCPTPERBKS", "total_revenue"),
          ("GRSCONTRGIFTS", "contributions"), ("TOTEXPNSPBKS", "total_expenses"),
          ("TOTASSETSEND", "total_assets"), ("TOTLIABEND", "total_liabilities"),
          ("TFUNDNWORTH", "net_assets"), ("OTHRCASHAMT", "cash"),
          ("CONTRACTNCD", "ceased_operations")]
MAPS = {"std": (STD_MAP, "STD"), "ez": (EZ_MAP, "EZ"), "pf": (PF_MAP, "PF")}
RANK = {"STD": 0, "EZ": 1, "PF": 2}
TEXT_990 = {"ein_raw", "tax_period", "ceased_operations", "sold_assets"}

IPEDS_SPECS = [("unitid", "unitid", []), ("name", "institution name", []),
               ("ein", "employer identification", []), ("year_col", "survey year", []),
               ("enrollment", "total  enrollment", ["full-time", "part-time"]),
               ("retention", "full-time retention rate", []),
               ("graduation_rate", "graduation rate", []),
               ("admit_rate", "percent admitted", []),
               ("student_faculty", "student-to-faculty", []),
               ("f2_assets", "f2.total assets", []), ("f2_liabilities", "f2.total liabilities", []),
               ("f2_net_assets", "f2.total net assets", []),
               ("f2_revenue", "f2.total revenues", []), ("f2_expenses", "f2.total expenses", []),
               ("f1a_assets", "f1a.total assets", []), ("f1a_net_position", "f1a.net position", []),
               ("f1a_revenue", "f1a.total all revenues", []),
               ("f1a_expenses", "f1a.total expenses", []),
               ("f3_assets", "f3.total assets", []), ("f3_equity", "f3.total equity", []),
               ("f3_revenue", "f3.total revenues", []), ("f3_expenses", "f3.total expenses", [])]
IPEDS_TEXT = {"unitid", "name", "ein", "year_col"}


# ---- scalar kernel, mirroring the engine's column semantics -------------

def to_double(s):
    if s is None:
        return None
    try:
        v = float(s.strip())
    except ValueError:
        return None
    return v


def safe_div(n, d):
    if d is None or d == 0.0 or n is None:
        return None
    return n / d


def sum_if_any(xs):
    if all(x is None for x in xs):
        return None
    t = None
    for x in xs:
        v = 0.0 if x is None else x
        t = v if t is None else t + v
    return t


def interpolate(v, healthy, distress):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if healthy > distress:
        if v >= healthy:
            return 0.0
        if v <= distress:
            return 1.0
        return (healthy - v) / (healthy - distress)
    if v <= healthy:
        return 0.0
    if v >= distress:
        return 1.0
    return (v - healthy) / (distress - healthy)


def renorm_mean(pairs, scale=100.0):
    num = den = None
    for c, w in pairs:
        a = c * w if c is not None else 0.0
        b = w if c is not None else 0.0
        num = a if num is None else num + a
        den = b if den is None else den + b
    return num / den * scale if den > 0.0 else None


def truthy(s):
    if s is None:
        return None
    return 1.0 if s.strip().upper() in ("Y", "YES", "1", "TRUE") else 0.0


def cagr(curr, prior, gap):
    if curr is None or prior is None or gap is None or gap <= 0 or curr <= 0 or prior <= 0:
        return None
    return math.pow(curr / prior, 1.0 / gap) - 1.0


def piecewise(curr, prior, gap):
    if curr is None or prior is None:
        return None
    if prior > 0 and curr <= 0:
        return -0.30
    if prior <= 0 and curr < prior:
        return -0.20
    if prior <= 0 and curr >= prior:
        return 0.05
    return cagr(curr, prior, gap)


def hhi(comps, total):
    if total is None or total <= 0 or all(c is None for c in comps):
        return None
    t = None
    for c in comps:
        s = (0.0 if c is None else c) / total
        t = s * s if t is None else t + s * s
    return t


def categorize(s):
    if s is None:
        return "Unknown"
    for bound, cat in ((20, "Healthy"), (40, "Watch"), (60, "Elevated"), (80, "High")):
        if s < bound:
            return cat
    return "Severe"


def floor(score, guard, value):
    if guard and score is not None:
        return score if value is None else max(score, value)
    return score


def score(r, indicators, domains, multipliers, floors):
    """Adds ind_*, domain_*, composite_score, n_indicators, final_score,
    risk_category to the dict `r` (Engine.score)."""
    for name, dom, w, h, d, raw in indicators:
        r["ind_" + name] = interpolate(raw(r), h, d)
    for dom, _ in domains:
        base = renorm_mean([(r["ind_" + n], w) for n, d_, w, *_ in indicators if d_ == dom])
        mult = multipliers.get(dom)
        if mult is not None and base is not None:
            base = min(100.0, base * mult(r))
        r["domain_" + dom] = base
    comp = renorm_mean([(r["domain_" + d], w) for d, w in domains], scale=1.0)
    n = sum(1 for x in indicators if r["ind_" + x[0]] is not None)
    r["composite_score"] = comp if n >= 4 else None
    r["n_indicators"] = n
    s = r["composite_score"]
    for guard, value in floors:
        s = floor(s, guard(r), value(r))
    r["final_score"] = s
    r["risk_category"] = categorize(s)
    return r


def g(k):
    return lambda r: r[k]


F990_IND = [
    ("days_cash", "liquidity", 0.40, 180, 30, lambda r: (
        None if safe_div(sum_if_any([r["cash"], r["savings"]]), r["total_expenses"]) is None
        else max(0.0, safe_div(sum_if_any([r["cash"], r["savings"]]),
                               r["total_expenses"]) * 365.0))),
    ("current_ratio", "liquidity", 0.35, 2.0, 0.5, lambda r: safe_div(
        sum_if_any([r["cash"], r["savings"], r["receivables"]]), r["payables"])),
    ("deferred_burden", "liquidity", 0.25, 0.05, 0.40,
     lambda r: safe_div(r["deferred_revenue"], r["total_revenue"])),
    ("equity_ratio", "solvency", 0.40, 0.40, -0.10,
     lambda r: safe_div(r["net_assets"], r["total_assets"])),
    ("debt_ratio", "solvency", 0.35, 0.40, 1.00,
     lambda r: safe_div(r["total_liabilities"], r["total_assets"])),
    ("secured_debt", "solvency", 0.25, 0.10, 0.60, lambda r: safe_div(
        sum_if_any([r["secured_mortgages"], r["unsecured_notes"]]), r["total_assets"])),
    ("operating_margin", "operations", 0.40, 0.05, -0.15, lambda r: safe_div(
        None if r["total_revenue"] is None or r["total_expenses"] is None
        else r["total_revenue"] - r["total_expenses"], r["total_revenue"])),
    ("comp_burden", "operations", 0.30, 0.30, 0.70, lambda r: safe_div(sum_if_any(
        [r["comp_officers"], r["other_salaries"], r["pension_contrib"], r["other_benefits"],
         r["payroll_tax"]]), r["total_expenses"])),
    ("fundraising_eff", "operations", 0.30, 0.05, 0.50,
     lambda r: safe_div(r["fundraising_fees"], r["contributions"])),
    ("revenue_trend", "trend", 0.30, 0.05, -0.20, g("revenue_cagr")),
    ("net_asset_trajectory", "trend", 0.30, 0.05, -0.25, g("net_asset_trend")),
    ("expense_gap", "trend", 0.20, -0.02, 0.10, g("expense_revenue_gap")),
    ("employee_trend", "trend", 0.20, 0.02, -0.25, g("employee_cagr")),
    ("revenue_concentration", "structure", 0.40, 0.35, 0.85, lambda r: hhi(
        [r["contributions"], r["program_revenue"], r["investment_income"]], r["total_revenue"])),
    ("insider_loans", "structure", 0.30, 0.00, 0.10, lambda r: safe_div(
        sum_if_any([r["officer_loans"], r["officer_receivables"]]), r["total_assets"])),
    ("ceased_flag", "structure", 0.30, 0, 1, lambda r: truthy(r["ceased_operations"])),
]
F990_DOM = [("liquidity", 0.20), ("solvency", 0.25), ("operations", 0.20), ("trend", 0.25),
            ("structure", 0.10)]
F990_FLOORS = [
    (lambda r: r["revenue_cagr"] is not None and r["revenue_cagr"] <= -0.50, lambda r: 65.0),
    (lambda r: truthy(r["ceased_operations"]) == 1.0, lambda r: 80.0)]


def ipeds_cliff(r):
    e, c = r["enrollment"], r["enrollment_cagr"]
    size = 0.0 if e is None else 1.0 if e < 500 else 0.75 if e < 1000 else 0.5 if e < 2000 else 0.0
    chg = 0.0 if c is None else 1.0 if c <= -0.15 else 0.5 if c <= -0.05 else 0.0
    return 1.0 + 0.4 * min(size * chg, 1.0)


IPEDS_IND = [
    ("enrollment_trend", "enrollment", 0.6, 0.02, -0.15, g("enrollment_cagr")),
    ("enrollment_level", "enrollment", 0.4, 2000, 200, g("enrollment")),
    ("retention_level", "retention", 0.6, 85, 50, g("retention")),
    ("retention_delta", "retention", 0.4, 0, -10, g("retention_delta")),
    ("graduation", "outcomes", 1.0, 70, 25, g("graduation_rate")),
    ("selectivity", "market", 0.5, 40, 95, g("admit_rate")),
    ("student_faculty", "market", 0.5, 12, 30, g("student_faculty")),
    ("equity_ratio", "solvency", 0.6, 0.40, -0.10, lambda r: None if r["accounting_std"] == "none"
     else safe_div(r["net_assets"], r["total_assets"])),
    ("debt_ratio", "solvency", 0.4, 0.40, 1.00,
     lambda r: safe_div(r["total_liabilities"], r["total_assets"])),
    ("operating_margin", "operations", 1.0, 0.05, -0.15, lambda r: safe_div(
        None if r["total_revenue"] is None or r["total_expenses"] is None
        else r["total_revenue"] - r["total_expenses"], r["total_revenue"])),
    ("revenue_trend", "trend", 0.5, 0.05, -0.20, g("revenue_cagr")),
    ("net_asset_trajectory", "trend", 0.5, 0.05, -0.25, g("net_asset_trend")),
]
IPEDS_DOM = [("enrollment", 0.20), ("retention", 0.15), ("outcomes", 0.10), ("market", 0.10),
             ("solvency", 0.20), ("operations", 0.10), ("trend", 0.15)]


def _rev_floor(limit, value):
    return (lambda r: r["revenue_cagr"] is not None and r["revenue_cagr"] <= limit,
            lambda r: value)


IPEDS_FLOORS = [
    (lambda r: r["enrollment_cagr"] is not None and r["enrollment_cagr"] <= -0.15,
     lambda r: 40.0 + max(0.0, r["domain_enrollment"] - 40.0) * 0.5
     if r["domain_enrollment"] is not None else 40.0),
    _rev_floor(-0.25, 45.0), _rev_floor(-0.40, 55.0), _rev_floor(-0.55, 65.0)]


# ---- raw inputs ---------------------------------------------------------

def read_csv(path):
    with open(path, newline="", encoding="latin-1") as f:
        rows = list(csv.reader(f))
    return rows[0], rows[1:]


def norm_key(s):
    return None if s is None else s.strip(" ").lstrip("0")


def filings_990(data):
    """Standardized 990 filings: {(ein, year): [row, ...]}."""
    out = {}
    for kind, (mapping, ftype) in MAPS.items():
        for path in sorted(glob.glob(os.path.join(data, "990", f"{kind}_*.csv"))):
            header, rows = read_csv(path)
            idx = {h: i for i, h in enumerate(header)}
            for raw in rows:
                r = {"filing_type": ftype}
                for src, std in mapping:
                    v = raw[idx[src]] if src in idx and raw[idx[src]] != "" else None
                    r[std] = v if std in TEXT_990 else to_double(v)
                for _, std in STD_MAP:
                    r.setdefault(std, None)
                r["ein"] = norm_key(r["ein_raw"])
                r["year"] = int(r["tax_period"]) // 100
                out.setdefault((r["ein"], r["year"]), []).append(r)
    return out


def panel_990(filings, eins):
    """Richest filing per (ein, year) plus trend columns, for `eins`."""
    by_ein = {}
    for (ein, year), rs in filings.items():
        if ein in eins:
            best = min(rs, key=lambda r: RANK[r["filing_type"]])
            by_ein.setdefault(ein, []).append(dict(best))
    for rows in by_ein.values():
        rows.sort(key=lambda r: r["year"])
        prev = None
        for r in rows:
            p = prev or {}
            gap = r["year"] - prev["year"] if prev else None
            r["revenue_cagr"] = cagr(r["total_revenue"], p.get("total_revenue"), gap)
            r["expense_cagr"] = cagr(r["total_expenses"], p.get("total_expenses"), gap)
            r["net_asset_trend"] = piecewise(r["net_assets"], p.get("net_assets"), gap)
            r["employee_cagr"] = cagr(r["employee_count"], p.get("employee_count"), gap)
            r["expense_revenue_gap"] = (None if r["expense_cagr"] is None
                                        or r["revenue_cagr"] is None
                                        else r["expense_cagr"] - r["revenue_cagr"])
            score(r, F990_IND, F990_DOM, {}, F990_FLOORS)
            prev = r
    return by_ein


def resolve(columns):
    m = {}
    for std, search, excl in IPEDS_SPECS:
        for c in columns:
            lc = c.lower()
            if search in lc and not any(e in lc for e in excl):
                m[std] = c
                break
    return m


def ipeds_years(data):
    """{unitid: {year: standardized row}} from the wide CSVs."""
    units = {}
    for path in sorted(glob.glob(os.path.join(data, "ipeds", "ipeds_*.csv"))):
        year = int(os.path.basename(path)[6:10])
        header, rows = read_csv(path)
        m = resolve(header)
        idx = {h: i for i, h in enumerate(header)}
        for raw in rows:
            r = {}
            for std, _, _ in IPEDS_SPECS:
                v = raw[idx[m[std]]] if std in m and raw[idx[m[std]]] != "" else None
                r[std] = v if std in IPEDS_TEXT else to_double(v)
            r["unitid"] = r["unitid"].strip(" ")
            r["ein"] = norm_key(r["ein"])
            r["year"] = year
            r["accounting_std"] = ("fasb" if r["f2_assets"] is not None else
                                   "gasb" if r["f1a_assets"] is not None else
                                   "for_profit" if r["f3_assets"] is not None else "none")

            def co(*ks):
                return next((r[k] for k in ks if r[k] is not None), None)
            r["total_assets"] = co("f2_assets", "f1a_assets", "f3_assets")
            r["net_assets"] = co("f2_net_assets", "f1a_net_position", "f3_equity")
            r["total_revenue"] = co("f2_revenue", "f1a_revenue", "f3_revenue")
            r["total_expenses"] = co("f2_expenses", "f1a_expenses", "f3_expenses")
            derived = (None if r["total_assets"] is None or r["net_assets"] is None
                       else r["total_assets"] - r["net_assets"])
            r["total_liabilities"] = co("f2_liabilities") if r["f2_liabilities"] is not None \
                else derived
            units.setdefault(r["unitid"], {})[year] = r
    return units


def subsidiaries(units):
    latest = [ys[max(ys)] for ys in units.values()]
    groups = {}
    for r in latest:
        if r["ein"] and r["total_assets"] is not None:
            groups.setdefault(r["ein"], []).append(r)
    subs = set()
    for rs in groups.values():
        rs.sort(key=lambda r: (-r["total_assets"], r["unitid"]))
        parent = rs[0]["total_assets"]
        for r in rs[1:]:
            if abs(parent) > 0 and abs(r["total_assets"] - parent) <= 0.01 * abs(parent):
                subs.add(r["unitid"])
    return subs


def panel_ipeds(units, subs, f990, wanted):
    """Scored IPEDS rows for the units in `wanted`; `f990` maps
    (ein, year) to the 990 panel row used to fill missing financials."""
    max_year = max(y for ys in units.values() for y in ys)
    out = {}
    for uid in wanted:
        rows = [dict(units[uid][y]) for y in sorted(units[uid])]
        for r in rows:
            r["is_subsidiary"] = uid in subs
            if r["is_subsidiary"]:
                r["total_assets"] = r["net_assets"] = r["total_liabilities"] = None
            f = f990.get((r["ein"], r["year"]))
            r["injected_990"] = r["total_revenue"] is None and f is not None \
                and f["total_revenue"] is not None
            if f is not None:
                for k in ("total_revenue", "total_expenses", "total_assets", "net_assets"):
                    if r[k] is None:
                        r[k] = f[k]
            if r["injected_990"]:
                r["accounting_std"] = "irs990"
        closed = not any(r["year"] >= max_year - 1 and (
            r["enrollment"] is not None or r["total_revenue"] is not None) for r in rows)
        prev = None
        for r in rows:
            r["likely_closed"] = closed
            p = prev or {}
            gap = r["year"] - prev["year"] if prev else None
            r["enrollment_cagr"] = cagr(r["enrollment"], p.get("enrollment"), gap)
            r["revenue_cagr"] = cagr(r["total_revenue"], p.get("total_revenue"), gap)
            r["net_asset_trend"] = piecewise(r["net_assets"], p.get("net_assets"), gap)
            pr = p.get("retention")
            r["retention_delta"] = (None if pr is None or gap is None or gap <= 0
                                    or r["retention"] is None
                                    else (r["retention"] - pr) / gap)
            score(r, IPEDS_IND, IPEDS_DOM, {"enrollment": ipeds_cliff}, IPEDS_FLOORS)
            if closed:
                r["composite_score"] = r["final_score"] = None
                r["risk_category"] = "Likely Closed"
            prev = r
        out[uid] = rows
    return out


# ---- comparisons ----------------------------------------------------------

def close(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, str) or isinstance(b, str) or isinstance(a, bool):
        return a == b
    if isinstance(a, float) and math.isnan(a):
        return isinstance(b, float) and math.isnan(b)
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


def read_out(work, rnd, name):
    path = os.path.join(work, f"r{rnd}", name)
    if not glob.glob(os.path.join(path, "*.parquet")):
        return None
    return pq.read_table(path).to_pandas()


def records(df):
    """Rows as dicts with None for missing values."""
    return [{k: (None if isinstance(v, float) and math.isnan(v) else v) for k, v in r.items()}
            for r in df.astype(object).where(df.notna(), None).to_dict("records")]


def score_cols(df):
    return [k for k in df.columns if k.startswith(("ind_", "domain_"))] + [
        "composite_score", "n_indicators", "final_score", "risk_category"]


def in_range(df):
    """Scores within [0, 100] or null."""
    cols = ["composite_score", "final_score"] + [c for c in df.columns if c.startswith("domain_")]
    v = df[cols]
    return not ((v < 0.0) | (v > 100.0)).any().any()


def sample_ok(df, key, expected, cols):
    rows = {(r[key], r["year"]): r for r in records(df[df[key].isin(list(expected))])}
    for k, exp_rows in expected.items():
        for e in exp_rows:
            got = rows.get((k, e["year"]))
            if got is None or not all(close(got[c], e[c]) for c in cols):
                return False
    return True


def check_990(df, filings, truth, expected):
    bad = set()
    keys = list(zip(df["ein"], df["year"]))
    if len(keys) != len(set(keys)):
        bad.add("one_row_per_ein_year")
    if set(keys) != set(filings):
        bad.add("key_set")
    best = {k: min(RANK[f["filing_type"]] for f in fs) for k, fs in filings.items()}
    if any(RANK[t] != best.get(k, RANK[t]) for k, t in zip(keys, df["filing_type"])):
        bad.add("richer_form_order")
    if not in_range(df):
        bad.add("score_range")
    scored = df[df["composite_score"].notna()]
    if (scored[scored["revenue_cagr"] <= -0.50]["final_score"] < 65.0).any():
        bad.add("revenue_collapse_floor")
    ceased = scored["ceased_operations"].map(lambda v: truthy(v) == 1.0 if isinstance(v, str)
                                             else False)
    if (scored[ceased]["final_score"] < 80.0).any():
        bad.add("ceased_floor")
    ties = {(r["ein"], r["year"]): r for r in records(df[df["ein"].isin(list(truth["ties"]))])}
    for ein, t in truth["ties"].items():
        got = ties.get((ein, t["year"]))
        if got is None or got["filing_type"] != t["filing_type"] \
                or not close(got["total_revenue"], t["total_revenue"]):
            bad.add("latest_filing_tie")
    if not sample_ok(df, "ein", expected, score_cols(df) + ["filing_type"]):
        bad.add("sample_recompute")
    return bad


def check_ipeds(df, units, truth, expected):
    bad = set()
    keys = list(zip(df["unitid"], df["year"]))
    if len(keys) != len(set(keys)):
        bad.add("one_row_per_unit_year")
    if set(keys) != {(u, y) for u, ys in units.items() for y in ys}:
        bad.add("key_set")
    if set(df[df["is_subsidiary"]]["unitid"]) != set(truth["subsidiaries"]):
        bad.add("subsidiaries")
    if set(df[df["likely_closed"]]["unitid"]) != set(truth["closed"]):
        bad.add("likely_closed")
    if not in_range(df):
        bad.add("score_range")
    sc = df[df["composite_score"].notna()]
    c, f = sc["revenue_cagr"], sc["final_score"]
    if (((c <= -0.25) & (f < 45)) | ((c <= -0.40) & (f < 55)) | ((c <= -0.55) & (f < 65))).any():
        bad.add("revenue_floor")
    if ((sc["enrollment_cagr"] <= -0.15) & (f < 40)).any():
        bad.add("enrollment_floor")
    cols = score_cols(df) + ["is_subsidiary", "likely_closed", "injected_990",
                             "accounting_std", "total_revenue", "total_assets"]
    if not sample_ok(df, "unitid", expected, cols):
        bad.add("sample_recompute")
    return bad


def check_master(df, data, truth, ipeds_exp, f990_exp):
    bad = set()
    _, raw = read_csv(os.path.join(data, "master.csv"))
    ids = list(df["master_id"])
    if len(df) != truth["master_rows"] or len(ids) != len(set(ids)) \
            or set(ids) != {r[0] for r in raw}:
        bad.add("master_key_set")
    units = {r["unitid"]: r for r in records(df[df["unitid"].isin(list(ipeds_exp))])}
    for uid, exp_rows in ipeds_exp.items():
        got, e = units.get(uid), exp_rows[-1]
        if got is None or not close(got["distress_score"], e["final_score"]) \
                or got["distress_category"] != e["risk_category"]:
            bad.add("master_ipeds_scores")
    for got in records(df[df["ein_clean"].isin(list(f990_exp))]):
        e = f990_exp[got["ein_clean"]][-1]
        if not close(got["distress_score_990"], e["final_score"]) or got["year_990"] != e["year"]:
            bad.add("master_990_scores")
    return bad


def check(work, data, ops):
    truth = json.load(open(os.path.join(data, "truth.json")))
    filings = filings_990(data)
    units = ipeds_years(data)
    subs = subsidiaries(units)
    sample_990 = set(truth["sample_990"])
    fill_eins = {r["ein"] for ys in units.values() for r in ys.values()}
    f990_all = panel_990(filings, fill_eins | sample_990)
    f990 = {(ein, r["year"]): r for ein, rs in f990_all.items() for r in rs}
    exp_990 = {e: f990_all[e] for e in sample_990 if e in f990_all}
    exp_ipeds = panel_ipeds(units, subs, f990, truth["sample_ipeds"])
    failures = {}
    for op in ops:
        if op["status"] != "ok":
            continue
        rows = read_out(work, op["round"], op["name"])
        if rows is None or rows.empty:
            bad = {"no_output"}
        elif op["name"] == "form990_detail":
            bad = check_990(rows, filings, truth, exp_990)
        elif op["name"] == "ipeds_detail":
            bad = check_ipeds(rows, units, truth, exp_ipeds)
        else:
            bad = check_master(rows, data, truth, exp_ipeds, exp_990)
        if bad:
            failures[(op["name"], op["round"])] = bad
    return failures

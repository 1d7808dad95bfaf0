#!/usr/bin/env python3
"""Seeded generator for the scoring_pipeline workload's inputs.

Writes raw extracts shaped like the reference pipeline's real inputs:

  990/{std,ez,pf}_YYYY.csv  IRS 990 extracts, three filing types x five
                            extract years, headers of the three rename
                            maps (lower-case STD/EZ, upper-case PF), sparse
                            EZ/PF columns, leading-zero and space-padded
                            EINs, latin-1 names, a few non-numeric cells;
  ipeds/ipeds_YYYY.csv      five wide IPEDS years with year-prefixed
                            headers (including the double-spaced
                            `Total  enrollment`), a FASB/GASB/for-profit/
                            no-finance mix, EIN-sharing subsidiaries,
                            likely-closed units and 990-filled units;
  master.csv                the master table the scores merge into;
  truth.json                what was planted, for the checks.

Entity counts are the paper's: 8.8k 990 filers, 5.9k IPEDS units, 134
subsidiaries. Two blocks are the same for every seed:

  - 64 filers that file two same-type returns whose tax periods fall in
    one year (a short-period return); the pipeline must keep the later one;
  - 16 990-EZ filers whose every present domain scores 100 in 2024
    (liquidity is absent from an EZ return), so the composite is the
    renormalized mean of four domains at 100 and must read exactly 100.

    python3 perfbench/gen_pipeline.py OUT_DIR --seed 7
"""
import argparse
import csv
import json
import math
import os
import random

YEARS = [2020, 2021, 2022, 2023, 2024]
N990 = 8800
NIPEDS = 5900
NSUBS = 134
TIE_BLOCK = 64
TIE_YEAR = 2022
RANGE_BLOCK = 16

STD_HEADER = ["EIN", "name", "tax_pd", "totrevenue", "totprgmrevnue", "totcntrbgfts",
              "invstmntinc", "totfuncexpns", "compnsatncurrofcr", "othrsalwages",
              "pensionplancontrb", "othremplyeebenef", "payrolltx", "profndraising",
              "totassetsend", "totliabend", "totnetassetend", "unrstrctnetasstsend",
              "nonintcashend", "svngstempinvend", "accntsrcvblend", "accntspayableend",
              "deferedrevnuend", "secrdmrtgsend", "unsecurednotesend", "lndbldgsequipend",
              "paybletoffcrsend", "currfrmrcvblend", "noemplyeesw3cnt",
              "ceaseoperationscd", "sellorexchcd"]
EZ_HEADER = ["EIN", "name", "taxpd", "subseccd", "totrevnue", "prgmservrev", "totcntrbs",
             "othrinvstinc", "totexpns", "totassetsend", "totliabend", "totnetassetsend",
             "contractioncd"]
PF_HEADER = ["EIN", "NAME", "TAX_PRD", "TOTRCPTPERBKS", "GRSCONTRGIFTS", "TOTEXPNSPBKS",
             "TOTASSETSEND", "TOTLIABEND", "TFUNDNWORTH", "OTHRCASHAMT", "CONTRACTNCD"]

NAME_A = ["Fundación", "Société", "Café", "Asociación", "Müller", "Ñandú", "Hôpital",
          "Garçon", "Saint", "Harbor", "Valley", "Northern", "Unity", "Mercy", "Civic"]
NAME_B = ["Trust", "Foundation", "Alliance", "Guild", "Society", "Institute", "Fund",
          "Center", "Partners", "Collective"]
CITIES = ["Aurora", "Bristol", "Clinton", "Dayton", "Eugene", "Fresno", "Georgetown",
          "Helena", "Irvine", "Jackson", "São Paulo", "Montréal"]
STATES = ["AL", "CA", "CO", "GA", "IL", "MA", "MN", "NY", "OH", "OR", "PA", "TX", "WA"]


def ein_text(rng, n):
    """EIN as it appears in an extract: nine digits, so EINs below 10^8
    keep a leading zero; a few carry stray spaces."""
    s = f"{n:09d}"
    r = rng.random()
    if r < 0.03:
        return " " + s
    if r < 0.05:
        return s + " "
    return s


def num(rng, v, p_empty=0.0, p_bad=0.0):
    if v is None:
        return ""
    r = rng.random()
    if r < p_empty:
        return ""
    if r < p_empty + p_bad:
        return "N/A"
    return str(int(round(v)))


def name(rng):
    return f"{rng.choice(NAME_A)} {rng.choice(NAME_B)} {rng.randint(1, 999)}"


def write_csv(path, header, rows):
    with open(path, "w", newline="", encoding="latin-1") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


def financials(rng, revenue, collapse):
    """One filing's figures around a revenue level."""
    r = revenue * (0.3 if collapse else 1.0)
    exp = r * rng.uniform(0.8, 1.25)
    assets = r * rng.uniform(0.4, 3.0)
    liab = assets * rng.uniform(0.05, 1.15)
    prog, contrib = rng.random(), rng.random()
    inv = rng.random() * 0.3
    tot = prog + contrib + inv
    return {
        "revenue": r, "program": r * prog / tot, "contrib": r * contrib / tot,
        "invest": r * inv / tot, "expenses": exp, "assets": assets, "liab": liab,
        "net": assets - liab, "cash": assets * rng.uniform(0.01, 0.3),
        "savings": assets * rng.uniform(0.0, 0.2),
        "recv": assets * rng.uniform(0.0, 0.2), "pay": assets * rng.uniform(0.01, 0.2),
        "deferred": r * rng.uniform(0.0, 0.5), "secured": assets * rng.uniform(0.0, 0.5),
        "unsecured": assets * rng.uniform(0.0, 0.2), "fixed": assets * rng.uniform(0.0, 0.6),
        "off_loans": assets * rng.uniform(0.0, 0.05) if rng.random() < 0.1 else 0.0,
        "off_recv": assets * rng.uniform(0.0, 0.05) if rng.random() < 0.1 else 0.0,
        "comp": [exp * rng.uniform(0.02, 0.2) for _ in range(5)],
        "fundraising": r * rng.uniform(0.0, 0.3),
        "employees": max(1, int(r / rng.uniform(40000, 120000))),
    }


def row_std(rng, ein, nm, tax_pd, f, ceased):
    c = f["comp"]
    vals = [f["revenue"], f["program"], f["contrib"], f["invest"], f["expenses"],
            c[0], c[1], c[2], c[3], c[4], f["fundraising"], f["assets"], f["liab"],
            f["net"], f["net"] * 0.6, f["cash"], f["savings"], f["recv"], f["pay"],
            f["deferred"], f["secured"], f["unsecured"], f["fixed"], f["off_loans"],
            f["off_recv"], f["employees"]]
    return ([ein, nm, str(tax_pd)] + [num(rng, v, 0.04, 0.005) for v in vals]
            + [ceased, rng.choice(["N", "N", "Y", ""])])


def row_ez(rng, ein, nm, tax_pd, f, ceased):
    return [ein, nm, str(tax_pd), "3", num(rng, f["revenue"], 0.02),
            num(rng, f["program"], 0.5), num(rng, f["contrib"], 0.1),
            num(rng, f["invest"], 0.6), num(rng, f["expenses"], 0.02),
            num(rng, f["assets"], 0.05), num(rng, f["liab"], 0.1),
            num(rng, f["net"], 0.1, 0.01), ceased]


def row_pf(rng, ein, nm, tax_pd, f, ceased):
    return [ein, nm, str(tax_pd), num(rng, f["revenue"], 0.02),
            num(rng, f["contrib"], 0.3), num(rng, f["expenses"], 0.02),
            num(rng, f["assets"], 0.05), num(rng, f["liab"], 0.4),
            num(rng, f["net"], 0.1), num(rng, f["cash"], 0.5), ceased]


ROW = {"std": row_std, "ez": row_ez, "pf": row_pf}
RICHER = {"pf": ["ez", "std"], "ez": ["std"], "std": ["ez", "pf"]}


def ipeds_header(y):
    ft = f"F{(y - 1) % 100:02d}{y % 100:02d}"
    return ["unitid", f"institution name (HD{y})", "Employer Identification Number",
            f"DRVEF{y}.Full-time enrollment", f"DRVEF{y}.Total  enrollment",
            f"DRVEF{y}.Part-time enrollment", f"EF{y}D.Full-time retention rate",
            f"DRVGR{y}.Graduation rate, total cohort", f"DRVADM{y}.Percent admitted - total",
            f"DRVEF{y}.Student-to-faculty ratio",
            f"{ft}_F2.Total assets", f"{ft}_F2.Total liabilities",
            f"{ft}_F2.Total unrestricted net assets", f"{ft}_F2.Total net assets",
            f"{ft}_F2.Total revenues and investment return", f"{ft}_F2.Instruction-total amount",
            f"{ft}_F2.Total expenses",
            f"{ft}_F1A.Total assets", f"{ft}_F1A.Net position", f"{ft}_F1A.Operating income",
            f"{ft}_F1A.Total all revenues", f"{ft}_F1A.Total expenses",
            f"{ft}_F3.Total assets", f"{ft}_F3.Total equity",
            f"{ft}_F3.Total revenues and investment return", f"{ft}_F3.Total expenses",
            f"DRVF{y}.Equity ratio (FASB)"]


def range_block(files):
    """The 990-EZ filers whose 2024 domains all score 100: revenue halves
    and expenses fall by a quarter (revenue, expense-gap and operating
    margin at distress), net assets turn negative (net-asset trajectory,
    equity and debt ratios), all revenue is contributions (concentration
    1.0) and operations ceased. The same for every seed."""
    eins = [200_000_000 + 7919 * i for i in range(RANGE_BLOCK)]
    for i, e in enumerate(eins):
        rev = 1_000_000 + 50_000 * i
        for y, r, x, a, liab in ((2023, rev, rev, rev, rev // 2),
                                 (2024, rev // 2, rev * 3 // 4, rev, rev * 13 // 10)):
            files[("ez", y)].append(
                [f"{e:09d}", f"Range Block Trust {i}", str(y * 100 + 12), "3", str(r), "0",
                 str(r), "0", str(x), str(a), str(liab), str(a - liab), "Y"])
    return eins


def generate(out, seed):
    rng = random.Random(seed)
    os.makedirs(os.path.join(out, "990"), exist_ok=True)
    os.makedirs(os.path.join(out, "ipeds"), exist_ok=True)

    ein_pool = rng.sample(range(1_000_000, 999_999_999), N990 + NIPEDS + 2 * NSUBS)
    ein_pool = [e if rng.random() > 0.15 else e % 100_000_000 for e in ein_pool]
    tie_eins = [100_000_000 + 7919 * i for i in range(TIE_BLOCK)]
    files = {(k, y): [] for k in ROW for y in YEARS}
    range_eins = range_block(files)
    planted = set(tie_eins) | set(range_eins)
    ein_pool = list(dict.fromkeys(e for e in ein_pool
                                  if e >= 1_000_000 and e not in planted))
    e990 = ein_pool[:N990]
    e_ipeds_own = ein_pool[N990:]

    truth = {"ties": {}, "range_block": [str(e) for e in range_eins], "subsidiaries": [],
             "near_misses": [], "closed": [], "injected": [], "seed": seed}

    def extract_year(tax_year):
        return min(YEARS[-1], tax_year + (1 if rng.random() < 0.3 else 0))

    # the tie block: same entities, same figures, for every seed
    tie_rng = random.Random(990)
    for i, e in enumerate(tie_eins):
        kind = ["std", "ez", "pf"][i % 3]
        ein = f"{e:09d}"
        nm = name(tie_rng)
        rev = tie_rng.uniform(2e5, 5e6)
        for y in YEARS:
            f = financials(tie_rng, rev, False)
            files[(kind, y)].append(ROW[kind](tie_rng, ein, nm, y * 100 + 12, f, "N"))
        early = financials(tie_rng, rev * 0.9, False)
        late = financials(tie_rng, rev * 1.1, False)
        r_early = ROW[kind](tie_rng, ein, nm, TIE_YEAR * 100 + 6, early, "N")
        r_late = ROW[kind](tie_rng, ein, nm, TIE_YEAR * 100 + 12, late, "N")
        r_late[{"std": 3, "ez": 4, "pf": 3}[kind]] = str(int(round(late["revenue"])))
        r_early[{"std": 3, "ez": 4, "pf": 3}[kind]] = str(int(round(early["revenue"])))
        # the year's regular filing is replaced by the two short-period ones
        files[(kind, TIE_YEAR)].pop()
        order = i % 4
        if order == 0:
            files[(kind, TIE_YEAR)] += [r_early, r_late]
        elif order == 1:
            files[(kind, TIE_YEAR)] += [r_late, r_early]
        elif order == 2:
            files[(kind, TIE_YEAR)].append(r_early)
            files[(kind, TIE_YEAR + 1)].append(r_late)
        else:
            files[(kind, TIE_YEAR + 1)].append(r_early)
            files[(kind, TIE_YEAR)].append(r_late)
        truth["ties"][str(e)] = {"year": TIE_YEAR, "filing_type": kind.upper(),
                                 "total_revenue": float(int(round(late["revenue"])))}

    # regular 990 filers
    for e in e990:
        kind = rng.choices(["std", "ez", "pf"], [0.55, 0.30, 0.15])[0]
        ein = ein_text(rng, e)
        nm = name(rng)
        rev = math.exp(rng.uniform(math.log(5e4), math.log(5e8)))
        start = rng.choice(YEARS[:3])
        for y in YEARS:
            if y < start or (y > start and rng.random() < 0.06):
                continue
            rev *= math.exp(rng.gauss(0, 0.15))
            collapse = rng.random() < 0.04
            ceased = rng.choices(["N", "Y", "", "yes", "1", "0"],
                                 [0.80, 0.02, 0.12, 0.02, 0.02, 0.02])[0]
            tax_pd = y * 100 + rng.choice([6, 9, 12])
            f = financials(rng, rev, collapse)
            files[(kind, extract_year(y))].append(ROW[kind](rng, ein, nm, tax_pd, f, ceased))
            if rng.random() < 0.08:
                other = rng.choice(RICHER[kind])
                f2 = financials(rng, rev, collapse)
                files[(other, extract_year(y))].append(
                    ROW[other](rng, ein, nm, tax_pd, f2, ceased))

    for (kind, y), rows in files.items():
        header = {"std": STD_HEADER, "ez": EZ_HEADER, "pf": PF_HEADER}[kind]
        write_csv(os.path.join(out, "990", f"{kind}_{y}.csv"), header, rows)

    # IPEDS units
    units = []
    fill_eins = rng.sample(e990, NIPEDS // 25)
    own = iter(e_ipeds_own)
    uid = 100000
    for i in range(NIPEDS):
        uid += rng.randint(1, 9)
        kind = rng.choices(["fasb", "gasb", "for_profit", "none"], [0.45, 0.35, 0.15, 0.05])[0]
        units.append({"unitid": str(uid), "std": kind, "ein": next(own), "closed": False,
                      "rev": math.exp(rng.uniform(math.log(2e6), math.log(2e9))),
                      "enr": math.exp(rng.uniform(math.log(150), math.log(40000)))})
    # 990-filled units: no IPEDS finance, an EIN that files 990s
    for u, e in zip([u for u in units if u["std"] == "none"], fill_eins):
        u["ein"] = e
        truth["injected"].append(u["unitid"])
    # likely-closed units: nothing reported in the two latest years
    free = [u for u in units if u["std"] != "none"]
    for u in rng.sample(free, NIPEDS // 100):
        u["closed"] = True
        truth["closed"].append(u["unitid"])
    open_units = [u for u in units if not u["closed"] and u["std"] != "none"]
    picks = rng.sample(open_units, 2 * NSUBS + 2 * (NSUBS // 4))
    subs, misses = picks[:2 * NSUBS], picks[2 * NSUBS:]
    for j in range(0, len(subs), 2):
        parent, child = subs[j], subs[j + 1]
        child["ein"] = parent["ein"]
        child["std"] = parent["std"]
        child["twin_of"] = parent
        child["twin_gap"] = rng.uniform(0.001, 0.009)
        truth["subsidiaries"].append(child["unitid"])
    for j in range(0, len(misses), 2):
        parent, child = misses[j], misses[j + 1]
        child["ein"] = parent["ein"]
        child["std"] = parent["std"]
        child["twin_of"] = parent
        child["twin_gap"] = rng.uniform(0.05, 0.4)
        truth["near_misses"].append(child["unitid"])

    ipeds_rows = {y: [] for y in YEARS}
    assets_by_year = {}
    # a twin's figures follow its parent's, so parents are written first
    for u in sorted(units, key=lambda u: "twin_of" in u):
        nm = name(rng)
        rev, enr = u["rev"], u["enr"]
        ret, grad = rng.uniform(50, 95), rng.uniform(20, 90)
        admit, sfr = rng.uniform(10, 100), rng.uniform(8, 30)
        shrink = rng.random() < 0.06
        for y in YEARS:
            rev *= math.exp(rng.gauss(0, 0.1)) * (0.6 if shrink and y >= 2023 else 1.0)
            enr *= math.exp(rng.gauss(0, 0.06)) * (0.75 if shrink and y >= 2022 else 1.0)
            ret = min(99, max(30, ret + rng.gauss(0, 2)))
            if u["closed"] and y >= 2023:
                if rng.random() < 0.5:
                    continue
                enr_s, fin = "", None
            else:
                enr_s, fin = str(int(round(enr))), u["std"]
            assets = rev * rng.uniform(0.8, 4.0)
            twin = u.get("twin_of")
            if twin is not None:
                assets = assets_by_year[(twin["unitid"], y)] * (1 - u["twin_gap"])
            assets_by_year[(u["unitid"], y)] = assets
            net = assets * rng.uniform(-0.2, 0.8)
            exp_ = rev * rng.uniform(0.85, 1.2)
            f2 = f1a = f3 = ["", "", "", "", "", "", ""]
            if fin == "fasb":
                f2 = [num(rng, assets), num(rng, assets - net, 0.05), num(rng, net * 0.7),
                      num(rng, net), num(rng, rev), num(rng, exp_ * 0.4), num(rng, exp_)]
            elif fin == "gasb":
                f1a = [num(rng, assets), num(rng, net), num(rng, rev - exp_),
                       num(rng, rev), num(rng, exp_)]
            elif fin == "for_profit":
                f3 = [num(rng, assets), num(rng, net), num(rng, rev), num(rng, exp_)]
            f2 = (f2 + [""] * 7)[:7]
            f1a = (f1a + [""] * 5)[:5]
            f3 = (f3 + [""] * 4)[:4]
            ft = "" if enr_s == "" else str(int(round(enr * 0.7)))
            pt = "" if enr_s == "" else str(int(round(enr * 0.3)))
            ein = ein_text(rng, u["ein"])
            ipeds_rows[y].append(
                [u["unitid"], nm, ein, ft, enr_s, pt,
                 "" if enr_s == "" else str(int(round(ret))),
                 "" if rng.random() < 0.05 else str(int(round(grad))),
                 "" if rng.random() < 0.1 else str(int(round(admit))),
                 "" if rng.random() < 0.05 else str(int(round(sfr)))]
                + f2 + f1a + f3 + [""])
    for y in YEARS:
        write_csv(os.path.join(out, "ipeds", f"ipeds_{y}.csv"), ipeds_header(y), ipeds_rows[y])

    # master: one row per IPEDS unit plus one per 990 filer not linked to a unit
    master = []
    mid = 0
    linked = {u["ein"] for u in units}
    for u in units:
        mid += 1
        master.append([f"M{mid:06d}", name(rng), "IPEDS", u["unitid"], str(u["ein"]),
                       rng.choice(CITIES), rng.choice(STATES)])
    for e in e990 + tie_eins + range_eins:
        if e in linked:
            continue
        mid += 1
        master.append([f"M{mid:06d}", name(rng), "Hummingbird_990", "", str(e),
                       rng.choice(CITIES), rng.choice(STATES)])
    write_csv(os.path.join(out, "master.csv"),
              ["master_id", "institution_name", "data_source", "unitid", "ein_clean",
               "city", "state"], master)

    sample_rng = random.Random(seed * 7 + 1)
    truth["sample_990"] = [str(e) for e in sample_rng.sample(e990, min(300, len(e990)))]
    truth["sample_ipeds"] = sample_rng.sample([u["unitid"] for u in units], min(300, len(units)))
    truth["master_rows"] = len(master)
    truth["counts"] = {"990_filers": N990 + TIE_BLOCK + RANGE_BLOCK, "ipeds_units": NIPEDS,
                       "subsidiaries": len(truth["subsidiaries"]),
                       "990_rows": sum(len(v) for v in files.values()),
                       "ipeds_rows": sum(len(v) for v in ipeds_rows.values())}
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    t = generate(a.out, a.seed)
    print(json.dumps(t["counts"]))

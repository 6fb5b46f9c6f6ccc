"""Seeded generator of the parquet warehouse `MainDag` reads.

Writes `<dir>/{raw,app}/<table>`: every source and dimension table the 30
jobs read, plus what a live warehouse already holds before a cron run (six
months of raw electricity/renewable/ratio history and the app tables other
systems maintain). Tables hold 10^2 to 10^4 rows; the daily meter readings
(`wks_mfg_fem_dailypower`, about 10^6 rows) are the largest. Column types are
the ones the engine's own writers use (32-bit ints, doubles, UTC timestamps),
so the jobs can append to the history tables.

The same seed gives the same tables. Values are random in plausible ranges;
the dimension keys (sites, plants, meters, providers, areas) are shared
across tables so the joins match. The cron run is dated 2025-02-15 and
reports 2025-01.

Usage: python3 perfbench/gen_warehouse.py <dir> <seed>
"""
import datetime as dt
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SITES = ["WZS", "WKS", "WIHK", "WCD", "WCQ", "WCZ", "WMX", "WVN", "WMI", "WMY", "WOK",
         "WTZ", "WIH", "WLT", "WTN", "XTRKS", "WHC", "WNH", "WMCQ", "WKH"]
SPLIT = {"WZS": ["WZS-1", "WZS-3", "WZS-6", "WZS-8"],
         "WKS": ["WKS-1", "WKS-5", "WKS-6A", "WKS-6B"], "WIHK": ["WIHK-1", "WIHK-2"]}
# (plant, site): the split sites above; every other site is one plant
PLANTS = [(p, s) for s in SITES for p in SPLIT.get(s, [s])]
AREAS = ["北區", "中區", "南區", "華東", "華南", "海外"]
PROVIDERS = [f"Provider{i:02d}" for i in range(1, 25)]
METERS = [f"M{i:05d}" for i in range(400)]
YEARS = range(2022, 2033)
FIRST = dt.date(2024, 7, 1)
N_MONTHS = 7   # 2024-07 .. 2025-01
HISTORY = 6    # months before the reporting month
STAMP = dt.datetime(2024, 12, 31, tzinfo=dt.timezone.utc)

S, D, I32, I64 = pa.string(), pa.float64(), pa.int32(), pa.int64()
DATE, BOOL, TS = pa.date32(), pa.bool_(), pa.timestamp("us", tz="UTC")


def month(i):
    y, m = divmod(FIRST.month - 1 + i, 12)
    return dt.date(FIRST.year + y, m + 1, 1)


def area_of(site):
    return AREAS[SITES.index(site) % len(AREAS)]


def generate(base, seed):
    rnd = random.Random(seed)

    def amt(lo, hi):
        return round(lo + rnd.random() * (hi - lo), 2)

    def pick(xs):
        return xs[rnd.randrange(len(xs))]

    def write(layer, table, rows, schema, partition=None):
        cols = [list(c) for c in zip(*rows)] if rows else [[] for _ in schema]
        t = pa.table({name: pa.array(c, typ) for (name, typ), c in zip(schema, cols)})
        path = os.path.join(base, layer, table)
        if partition:
            pq.write_to_dataset(t, path, partition_cols=[partition],
                                basename_template="part-{i}.parquet")
        else:
            os.makedirs(path, exist_ok=True)
            pq.write_table(t, os.path.join(path, "part-0.parquet"))

    hist, months = range(HISTORY), range(N_MONTHS)

    # ---- dimensions
    write("raw", "plant_mapping",
          [(p, s, f"PC{i:03d}", "廠區" if i % 3 == 0 else "辦公室")
           for i, (p, s) in enumerate(PLANTS)],
          [("plant", S), ("site", S), ("plant_code", S), ("site_category", S)])
    write("raw", "boundary_sites", [(s,) for s in SITES if s != "WKH"], [("site", S)])
    meter_rows = []
    for m in METERS:
        p, s = pick(PLANTS)
        meter_rows.append((m, s, p, pick(PROVIDERS), area_of(s),
                           "表燈營業用電價" if rnd.randrange(10) == 0 else "高壓電力",
                           f"ET{rnd.randrange(4)}"))
    write("raw", "meter_mapping", [(s, p, m, ept, et) for m, s, p, _, _, ept, et in meter_rows],
          [("site", S), ("plant", S), ("meter_code", S), ("elec_price_type", S),
           ("elect_type", S)])
    write("raw", "provider_mapping", [(pr, m) for m, _, _, pr, _, _, _ in meter_rows],
          [("provider_name", S), ("meter_code", S)])
    write("raw", "area_mapping", [(m, a, s, pr, y) for m, s, _, pr, a, _, _ in meter_rows
                                  for y in (2024, 2025)],
          [("meter_code", S), ("area", S), ("site", S), ("provider_name", S), ("year", I32)])
    write("raw", "meter_group", [(m, str(rnd.randrange(40) + 1)) for m in METERS],
          [("meter_code", S), ("group_id", S)])
    write("raw", "meter_group_names", [(str(g), f"G{g:02d}_ALL") for g in range(1, 41)],
          [("group_id", S), ("group_name", S)])
    coef = []
    for s in SITES + ["WIHK1", "WIHK2", "WMYP1"]:
        for y in YEARS:
            c = amt(0.4, 0.8)
            coef.append((s, y, c, c))
    write("raw", "carbon_coef", coef, [("site", S), ("year", I32), ("coef", D), ("amount", D)])

    # ---- monthly sources
    names = ["總用電度數", "綠電電量", "購買綠證電量", "自建自用電量", "用水量", "廢棄物",
             "天然氣", "柴油", "汽油", "冷媒"]
    write("raw", "wzs_esgi_environment_indicator_item",
          [(d, p, month(i), "NA" if rnd.randrange(50) == 0 else f"{amt(0, 5000):.2f}")
           for p, _ in PLANTS for i in months for d in names for _ in range(2)],
          [("data_name", S), ("plant", S), ("period_start", DATE), ("amount", S)])

    def site_monthly(table, n, lo, hi):
        write("raw", table, [(s, month(i), amt(lo, hi)) for s in SITES for i in months
                             for _ in range(n)],
              [("site", S), ("period_start", DATE), ("amount", D)])
    site_monthly("electricity_backstage_office", 2, 10, 500)
    site_monthly("wzks_office_mirror", 2, 10, 500)
    site_monthly("electricity_backstage_update", 6, 1000, 90000)
    site_monthly("wzks_csr_mirror", 4, 1000, 90000)
    write("raw", "whq_esgcsrdatabase_view_csrindicatordetail_all",
          [(s, str(month(i).year), str(month(i).month), amt(0, 20000), c, "generated")
           for s in SITES + ["WIHK1", "WMYP2"] for i in months
           for c in ("光伏", "綠電", "綠證", "轉供綠電總電量", "轉供綠電電量") for _ in range(3)],
          [("site", S), ("year", S), ("month", S), ("amount", D), ("category2", S),
           ("remark", S)])
    write("raw", "solar_remain", [(s, amt(0, 3000), month(i)) for s in SITES + ["WKS/XTRKS"]
                                  for i in months],
          [("site", S), ("amount", D), ("period_start", DATE)])
    write("raw", "solar_other", [(month(i), s, a, amt(0, 50), amt(0, 80)) for s in SITES
                                 for i in months for a in ("TB2", "OB1", "TB3", "TB5", "X9")],
          [("period_start", DATE), ("site", S), ("area", S), ("tree", D), ("fuel", D)])
    write("raw", "solar_info", [(s, p, c, amt(1, 1000)) for p, s in PLANTS
                                for c in ("capacity", "panels", "inverters", "area_m2")],
          [("site", S), ("plant", S), ("category", S), ("amount", D)])
    # every billed meter has tariff rows; one in four also has a green
    # transfer (轉供) row, as only some meters buy transferred green power
    bill_cats = [("契約", ["經常契約", "非夏月契約"]), ("計費", ["尖峰", "半尖峰", "離峰", "周六半尖峰"]),
                 ("需量", ["最高需量"])]
    write("raw", "green_electric_bill",
          [(m, c1, c2, amt(100, 50000), month(i).year, month(i).month)
           for k, m in enumerate(METERS[:160]) for i in months
           for c1, c2s in (bill_cats + [("轉供", ["總綠電度數"])] if k % 4 == 0 else bill_cats)
           for c2 in c2s],
          [("meter_code", S), ("category1", S), ("category2", S), ("amount", D),
           ("year", I32), ("month", I32)])
    write("raw", "provider_target",
          [(area_of(s), month(i).year, month(i).month, PROVIDERS[k % len(PROVIDERS)], s,
            f"{amt(0, 9000):.2f}") for k, s in enumerate(SITES) for i in months],
          [("area", S), ("year", I32), ("month", I32), ("provider", S), ("site", S),
           ("amount", S)])

    # ---- daily meter readings, the largest table
    codes = np.array([f"PC{i:03d}" for i in range(len(PLANTS))])
    per_code, days = 100, 366  # meters per plant code, 2024-07-01 .. 2025-07-01
    n = len(codes) * per_code * days
    ids = np.arange(n)
    rng = np.random.default_rng(seed)
    t = pa.table({
        "plant_code": pa.array(codes[ids % len(codes)], S),
        "meter_no": pa.array((ids // len(codes)) % per_code, I32),
        "datadate": pa.array(np.datetime64(FIRST, "D") + ids // (len(codes) * per_code), DATE),
        "power": np.round(rng.random(n) * 2000, 2)})
    os.makedirs(os.path.join(base, "raw", "wks_mfg_fem_dailypower"))
    pq.write_table(t, os.path.join(base, "raw", "wks_mfg_fem_dailypower", "part-0.parquet"))

    # ---- settings, targets, costs (yearly)
    cats = ("solar", "PPA", "REC", "other")
    write("raw", "renewable_setting", [(y, c, amt(2, 25)) for y in YEARS for c in cats],
          [("year", I32), ("category", S), ("amount", D)])
    write("raw", "decarb_ratios", [(y, c, amt(0.01, 0.3)) for y in YEARS for c in cats],
          [("year", I32), ("category", S), ("ratio", D)])
    write("raw", "green_elect_price_year", [(s, amt(0.5, 3)) for s in SITES + ["WIHK1", "WMYP1"]],
          [("site", S), ("amount", D)])
    write("raw", "green_purchase",
          [(y, s, q, c, amt(0.1, 2), amt(0, 90000)) for y in (2024, 2025) for s in SITES
           for q in ("Q1", "Q2", "Q3", "Q4") for c in ("-", "CustA", "CustB")],
          [("year", I32), ("site", S), ("quarter", S), ("customer", S), ("unit_price", D),
           ("amount", D)])
    write("raw", "source_checklist",
          [("廠區" if k % 2 == 0 else "辦公室", s, item, month(i).year, month(i).month,
            rnd.random() < 0.5)
           for k, s in enumerate(SITES) for item in ("實際用電", "自建太陽能", "直購綠電", "購買綠證")
           for i in months],
          [("site_category", S), ("site", S), ("item", S), ("year", I32), ("month", I32),
           ("confirm", BOOL)])
    write("raw", "energy_demand", [(s, y, amt(1e5, 1e7), f"V{v}") for s in SITES for y in YEARS
                                   for v in (1, 2, 3)],
          [("site", S), ("year", I32), ("amount", D), ("version", S)])
    write("raw", "green_cer_cost", [(s, y, amt(1, 40)) for s in SITES for y in YEARS],
          [("site", S), ("year", I32), ("amount", D)])
    write("raw", "green_elect_cost", [(s, y, amt(0.1, 2)) for s in SITES + ["WIH"] for y in YEARS],
          [("site", S), ("year", I32), ("amount", D)])
    write("raw", "fx_rmb_usd", [(y, amt(0.13, 0.15)) for y in YEARS],
          [("year", I32), ("rate", D)])
    write("raw", "bill_base",
          [(b, pick(AREAS), dt.datetime(2019 + b % 6, 1 + b % 12, 1, tzinfo=dt.timezone.utc))
           for b in range(1, 13)],
          [("base_id", I32), ("area", S), ("guideline_date", TS)])
    write("raw", "bill_summer", [(f"ET{et}", dt.date(2025, 5, 16), dt.date(2025, 10, 15), b)
                                 for b in range(1, 13) for et in range(4)],
          [("elect_type", S), ("start_date", DATE), ("end_date", DATE), ("base_id", I32)])
    write("raw", "bill_meter", [(c, amt(1, 9), f"ET{et}", summer, b) for b in range(1, 13)
                                for et in range(4) for c in ("尖峰", "半尖峰", "離峰", "週六半尖峰")
                                for summer in (True, False)],
          [("category2", S), ("price", D), ("elect_type", S), ("is_summer", BOOL),
           ("base_id", I32)])

    # ---- app tables other systems maintain
    write("app", "elect_target_month",
          [(s, m, amt(1e4, 9e5), y, c, v, v < 3) for s in SITES + ["All"] for y in (2024, 2025)
           for m in range(1, 13) for c in ("predict", "actual") for v in (1, 2, 3)],
          [("site", S), ("month", I32), ("amount", D), ("year", I32), ("category", S),
           ("version", I32), ("validate", BOOL)])
    write("app", "decarb_elect_simulate",
          [(s, y, amt(1e5, 1e7), v, 2024) for s in SITES for y in YEARS for v in (1, 2)],
          [("site", S), ("year", I32), ("amount", D), ("version", I32), ("version_year", I32)])
    write("app", "elect_target_year", [(s, pr, amt(1e4, 1e6)) for s in SITES for pr in PROVIDERS[:6]],
          [("site", S), ("provider", S), ("amount", D)])
    write("app", "elect_target_year_all", [(amt(1e7, 1e8),)], [("amount", D)])
    write("app", "decarb_elec_overview_base",
          [(y, m, c, "actual", amt(1e3, 1e6)) for y in range(2021, 2025) for m in range(1, 13)
           for c in ("scope2_market", "scope2_location", "scope1", "scope1n2")],
          [("year", I32), ("month", I32), ("category", S), ("type", S), ("ytm_amount", D)])
    write("app", "prior_scope1n2", [(2024, amt(1e4, 1e6))], [("year", I32), ("amount", D)])
    write("app", "green_energy_customer",
          [(y, q, c, s, pick(AREAS), "generated", *(amt(0, 1e5) for _ in range(2)),
            *(amt(0, 1e4) for _ in range(8)))
           for y in (2024, 2025) for q in range(1, 5) for s in SITES[:8]
           for c in ("CustA", "CustB", "ALL")],
          [("year", I32), ("quarter", I32), ("customer", S), ("site", S), ("area", S),
           ("remark", S), ("total_elect", D), ("target_renew", D), ("solar", D),
           ("green_elect", D), ("grey_elect", D), ("green_energy", D), ("predict_price", D),
           ("green_energy_request", D), ("actual_amount", D), ("ratio", D)])
    write("app", "green_elec_pre_contracts",
          [(pr, amt(1e4, 1e6), y, pick(AREAS),
            ["光電", "風電"] if rnd.randrange(4) == 0 else ["光電"], amt(3, 6), STAMP)
           for pr in PROVIDERS for y in (2024, 2025)],
          [("provider_name", S), ("contract_ytm_amount", D), ("year", I32), ("area", S),
           ("green_elec_type", pa.list_(S)), ("contract_price", D), ("last_update_time", TS)],
          partition="year")
    write("app", "green_elec_transfer_account",
          [(pick(SITES), pick(PLANTS)[0], m, pick(PROVIDERS), c1, "elect_total",
            amt(0, 1e5), 2026, mo, pick(AREAS))
           for m in METERS[:120] for c1 in ("green_elect_vol", "grey_elect") for mo in range(1, 13)],
          [("site", S), ("plant", S), ("meter_code", S), ("provider_name", S),
           ("category1", S), ("category2", S), ("amount", D), ("year", I32), ("month", I32),
           ("area", S)])

    # ---- raw history the cron jobs extend month by month
    write("raw", "electricity_total_decarb",
          [(s, month(i), amt(1e3, 9e5), "度", t) for s in SITES for i in hist
           for t in ("ESGI", "office", "CSR")],
          [("site", S), ("period_start", DATE), ("amount", D), ("unit", S), ("type", S)],
          partition="period_start")
    write("raw", "renewable_energy_decarb",
          [(s, c, month(i), amt(0, 2e4), "綠色能源", "度", t) for s in SITES for i in hist
           for c in ("光伏", "綠電", "綠證", "自建自用電量") for t in ("ESGI", "CSR")],
          [("site", S), ("category2", S), ("period_start", DATE), ("amount", D),
           ("category1", S), ("unit", S), ("type", S)], partition="period_start")
    write("raw", "solar_ratio",
          [(p, amt(1e3, 1e5), month(i), amt(0.1, 0.4), STAMP) for p in SPLIT["WZS"] for i in months],
          [("plant", S), ("amount", D), ("period_start", DATE), ("ratio", D),
           ("last_update_time", TS)], partition="period_start")
    write("raw", "solar", [(c, p, month(i), amt(0, 5000), "history") for p, _ in PLANTS
                           for i in months for c in ("actual", "target")],
          [("category", S), ("plant", S), ("period_start", DATE), ("amount", D), ("type", S)],
          partition="period_start")
    write("raw", "fem_ratio", [(s, p, amt(1e3, 1e5), amt(0.01, 0.5), month(i))
                               for p, s in PLANTS for i in months],
          [("site", S), ("plant", S), ("amount", D), ("ratio", D), ("period_start", DATE)],
          partition="period_start")
    write("raw", "fem_ratio_solar", [(s, p, amt(1e3, 1e5), amt(0.01, 0.5), month(i), STAMP)
                                     for p, s in PLANTS for i in months],
          [("site", S), ("plant", S), ("power", D), ("ratio", D), ("period_start", DATE),
           ("last_update_time", TS)], partition="period_start")


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))

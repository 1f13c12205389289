"""Seeded input generators for the benchmark workloads.

* `reference_csvs` writes the four raw CSVs the marketing pipeline ingests,
  with the schemas and value domains of FIXTURES.md section A, and checks
  the section A invariants on what it wrote.
* `documents` writes the documents table the curation queries read, with
  the column types and value domains of the testdata layout (TESTDATA.md).

The same seed always gives the same files.
"""
import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ----------------------------------------------------------------- section A

CHANNELS = ["Paid Search", "Social", "Email", "Affiliates"]
FIRST_DAY = dt.date(2024, 11, 1)
DAYS = 365
# item -> (category, unit price THB, unit cost THB)
PRODUCTS = {
    "Box Logo Tee": ("T-Shirts", 990, 320),
    "Graphic Tee - Heavyweight": ("T-Shirts", 1290, 410),
    "Pocket Tee": ("T-Shirts", 890, 280),
    "Cargo Pants": ("Bottoms", 2490, 900),
    "Relaxed Denim": ("Bottoms", 2990, 1150),
    "Nylon Track Pants": ("Bottoms", 1990, 700),
    "Sweat Shorts": ("Bottoms", 1290, 430),
    "Six Panel Cap": ("Caps", 790, 230),
    "Washed Dad Cap": ("Caps", 690, 200),
    "Beanie": ("Caps", 590, 180),
    "Crossbody Bag": ("Accessories", 1490, 520),
    "Logo Socks 3-Pack": ("Accessories", 590, 190),
    "Crewneck Sweatshirt": ("Sweatshirts", 2290, 820),
    "Quarter Zip Fleece": ("Sweatshirts", 2590, 950),
    "Varsity Jacket - Wool Blend": ("Outerwear", 3990, 1800),
    "Coach Jacket": ("Outerwear", 2990, 1200),
    "Puffer Vest": ("Outerwear", 3490, 1500),
    "Pullover Hoodie": ("Hoodies", 2490, 880),
    "Zip Hoodie": ("Hoodies", 2690, 960),
}
LOCATIONS = ["Bangkok", "Chiang Mai", "Phuket", "Khon Kaen", "Chonburi",
             "Nakhon Ratchasima", "Songkhla", "Ayutthaya"]
LOCATION_W = [0.41, 0.1, 0.08, 0.07, 0.08, 0.08, 0.0362, 0.0438]
LOCATION_W = [w / sum(LOCATION_W) for w in LOCATION_W]
SHIPPING = ["Standard", "Express", "Same-Day"]
PAYMENT = ["Credit Card", "PromptPay", "Cash on Delivery", "Bank Transfer", "E-Wallet"]
PROMOS = [("", 0), ("PROMO10", 10), ("PROMO15", 15), ("PROMO20", 20)]

TRANSACTIONS = "ecom_mens_streetwear_10000.csv"
SPEND = "channel_spend_daily_campaign.csv"
CAMPAIGNS = "campaigns_details.csv"
PROMO = "promotion_reference.csv"


def _us_date(d):
    return f"{d.month}/{d.day}/{d.year}"


def _month_end(d):
    nxt = dt.date(d.year + d.month // 12, d.month % 12 + 1, 1)
    return nxt - dt.timedelta(days=1)


def reference_csvs(out, seed, transactions=10_000, customers=2_450):
    """The four raw CSVs at reference scale; returns their byte sizes."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    days = [FIRST_DAY + dt.timedelta(days=i) for i in range(DAYS)]
    months = sorted({(d.year, d.month) for d in days})
    campaigns = [f"{ch} {y}-{m:02d}" for ch in CHANNELS for (y, m) in months]

    # customers carry fixed attributes, so dim_customers has one row each
    cust_ids = [f"C{1000000 + i}" for i in rng.choice(900000, customers, replace=False)]
    cust_age = rng.integers(16, 51, customers)
    cust_gender = rng.choice(["Male", "Female", "Other"], customers, p=[0.6617, 0.3212, 0.0171])
    cust_loc = rng.choice(LOCATIONS, customers, p=LOCATION_W)
    cust_sub = rng.choice(["Active", "Inactive"], customers, p=[0.35, 0.65])
    # every day and every customer occurs at least once
    day_idx = np.concatenate([np.arange(DAYS), rng.integers(0, DAYS, transactions - DAYS)])
    cust_idx = np.concatenate([np.arange(customers),
                               rng.integers(0, customers, transactions - customers)])
    rng.shuffle(cust_idx)
    items = list(PRODUCTS)
    item_idx = np.concatenate([np.arange(len(items)),
                               rng.integers(0, len(items), transactions - len(items))])
    rng.shuffle(item_idx)
    qty = rng.choice([1, 2, 3], transactions, p=[0.8023, 0.1784, 0.0193])
    channel_idx = rng.integers(0, len(CHANNELS), transactions)
    ship = rng.choice(SHIPPING, transactions, p=[0.6, 0.3, 0.1])
    pay = rng.choice(PAYMENT, transactions)
    prev = rng.integers(0, 10, transactions)
    with open(os.path.join(out, TRANSACTIONS), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["Transaction Date", "Customer ID", "Age", "Gender", "Item Purchased",
                    "Category", "Quantity", "Purchase Amount (THB)", "Cost Price (THB)",
                    "Location", "Subscription Status", "Shipping Type", "Payment Method",
                    "Previous Purchases", "Campaign Name"])
        for i in range(transactions):
            d = days[day_idx[i]]
            c = cust_idx[i]
            item = items[item_idx[i]]
            cat, price, cost = PRODUCTS[item]
            q = int(qty[i])
            w.writerow([_us_date(d), cust_ids[c], int(cust_age[c]), cust_gender[c], item, cat, q,
                        f"{price * q:.1f}", f"{cost * q:.1f}", cust_loc[c], cust_sub[c],
                        ship[i], pay[i], int(prev[i]),
                        f"{CHANNELS[channel_idx[i]]} {d.year}-{d.month:02d}"])

    with open(os.path.join(out, SPEND), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["Date", "Campaign Name", "Spending", "Impressions", "Clicks", "Observed CTR"])
        for d in days:
            for ch in CHANNELS:
                spend = rng.uniform(886.97, 20228.21)
                imp = int(rng.integers(15810, 314095))
                ctr = rng.uniform(0.004, 0.01)
                clicks = max(114, min(2756, int(imp * ctr)))
                w.writerow([_us_date(d), f"{ch} {d.year}-{d.month:02d}", f"{spend:.2f}",
                            imp, clicks, f"{clicks / imp:.6f}"])

    with open(os.path.join(out, CAMPAIGNS), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["campaign_id", "campaign_name", "channel", "promo_code",
                    "start_date", "end_date"])
        promo_idx = rng.integers(0, len(PROMOS), len(campaigns))
        for i, name in enumerate(campaigns):
            ch, ym = name.rsplit(" ", 1)
            start = dt.date(int(ym[:4]), int(ym[5:]), 1)
            w.writerow([i + 1, name, ch, PROMOS[promo_idx[i]][0],
                        start.isoformat(), _month_end(start).isoformat()])

    with open(os.path.join(out, PROMO), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["promo_code", "discount_pct"])
        w.writerows(PROMOS)

    check_reference(out)
    return {n: os.path.getsize(os.path.join(out, n))
            for n in (TRANSACTIONS, SPEND, CAMPAIGNS, PROMO)}


def check_reference(out):
    """FIXTURES.md section A invariants on the written files."""
    with open(os.path.join(out, TRANSACTIONS)) as f:
        tx = list(csv.DictReader(f))
    with open(os.path.join(out, SPEND)) as f:
        sp = list(csv.DictReader(f))
    names = {r["Campaign Name"] for r in tx}
    channels = {n.rsplit(" ", 1)[0] for n in names}
    checks = {
        "365 transaction dates": len({r["Transaction Date"] for r in tx}) == DAYS,
        "48 campaigns": len(names) == 48,
        "four channels": channels == set(CHANNELS),
        "19 products": len({r["Item Purchased"] for r in tx}) == 19,
        "1,460 spend rows on the same campaigns":
            len(sp) == 4 * DAYS and {r["Campaign Name"] for r in sp} == names,
    }
    bad = [k for k, ok in checks.items() if not ok]
    if bad:
        raise AssertionError(f"generated reference CSVs break: {', '.join(bad)}")


# ---------------------------------------------------------- curation corpus

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
         "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
         "vector", "window"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_W = [0.44, 0.14, 0.14, 0.14, 0.14]


def documents(out, seed, docs):
    """documents.parquet in the testdata layout: 10-99 words from a 30-word
    vocabulary; one document in twenty is a near-duplicate of another (its
    text plus the word "dup"), the case the dedup family exists to find.
    The length mix and the duplicate count are the same for every seed, so
    seeds change content, not the amount of work. Returns the byte size."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    lens = rng.permutation(10 + np.arange(docs) * 90 // docs)
    texts = [" ".join(rng.choice(WORDS, n)) for n in lens]
    order = rng.permutation(docs)
    dups, originals = order[:docs // 20], order[docs // 20:]
    for i in dups:
        texts[i] = texts[int(rng.choice(originals))] + " dup"
    path = os.path.join(out, "documents.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, docs, p=LANG_W), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)
    return os.path.getsize(path)

"""Seeded inputs for the finance workloads, and the bookkeeping the checks
compare against.

One seed gives byte-identical files:

  seeds/*.csv   historic transactions (some uncategorized, some exact
                duplicate rows), both account-mapping seeds, exclusions;
                written into the warehouse as parquet tables
  pages.json    the SimpleFIN connections the in-process transport serves:
                per account its active pulls and transactions
  plan.json     pull schedule, ids the orchestrator validates per cycle,
                the API's edit pool, categories and search terms

The generator simulates every pull the way the transport answers it and
records, per pull, how many rows are served and which logical transactions
exist by then. A logical transaction is one purchase: re-imports from the
lookback window repeat its id, and a reconnected account re-serves it under
a new account id and a new transaction id.
"""
import csv
import datetime
import io
import json
import os
import random

DAY = 86400
# 2025-06-01T00:00:00Z: pull p happens at BASE + p days
BASE = 1748736000
HISTORY_DAYS = 60          # pull 0 fetches this much history
CYCLE_LOOKBACK_DAYS = 7    # later pulls re-import the last week

CATEGORIES = {
    "Groceries": ["SAFEWAY", "TRADER JOES", "WHOLE FOODS MKT", "COSTCO WHSE"],
    "Restaurants": ["STARBUCKS", "CHIPOTLE", "PIZZA HUT", "BLUE BOTTLE COFFEE"],
    "Gas": ["SHELL OIL", "CHEVRON", "ARCO AMPM"],
    "Transportation": ["UBER TRIP", "LYFT RIDE", "CITY PARKING"],
    "Shopping": ["AMAZON MKTPLACE", "TARGET", "ETSY"],
    "Travel": ["UNITED AIRLINES", "MARRIOTT HOTEL", "AIRBNB"],
    "Utilities": ["PGE WEB ONLINE", "COMCAST CABLE", "VERIZON WIRELESS"],
    "Health": ["CVS PHARMACY", "WALGREENS", "KAISER COPAY"],
}
CITIES = ["OAKLAND CA", "BERKELEY CA", "SAN FRANCISCO CA", "ALAMEDA CA"]
EXCLUSIONS = ["%Credit Card Payment%", "%AUTOPAY PAYMENT%", "%Transfer%", "%Payment Thank You%"]
EXCLUDED_DESCRIPTIONS = ["AUTOPAY PAYMENT - THANK YOU", "ONLINE TRANSFER TO SAV 4471",
                         "CREDIT CARD PAYMENT"]
SEARCH_TERMS = ["safeway", "coffee", "uber", "amazon", "hotel", "pharmacy", "shell", "target"]

# historic accounts: (account_name, additional_account_detail, mapped name, owner)
HISTORIC_ACCOUNTS = [
    ("Chase Sapphire", "", "Sapphire Card", "alex"),
    ("ambiguous_account", "Checking", "Joint Checking", "sam"),
    ("ambiguous_account", "Savings", "Joint Savings", "sam"),
    ("cash", "", None, None),   # no mapping row: falls back to the raw name
]

# historic rows, SimpleFIN transactions per account-day, daily pulls after
# the first (the orchestrator's cycles), size of the API's edit pool
SIZES = {
    "finance_jobs": dict(historic=150, per_day=1, cycles=4, pool=0),
    "api_mix": dict(historic=150, per_day=1, cycles=0, pool=80),
}
# the first measured day (pull 1 is the unmeasured warm-up day) finds
# account (0, 0) reconnected
RECONNECT_PULL = 2


def _merchant(r):
    cat = r.choice(sorted(CATEGORIES))
    m = r.choice(CATEGORIES[cat])
    return cat, f"{m} #{r.randint(1, 6):04d} {r.choice(CITIES)}"


def _amount(r, cat):
    scale = {"Travel": 400, "Utilities": 120, "Shopping": 80, "Groceries": 70}.get(cat, 25)
    return -round(r.uniform(2, scale), 2)


def _fmt_amount(a):
    return f"{a:.2f}"


def _historic(r, n):
    """Historic seed rows in the column order of Schemas.historicRaw."""
    rows = []
    while len(rows) < n:
        acct, detail, _, _ = r.choice(HISTORIC_ACCOUNTS)
        cat, desc = _merchant(r)
        day = r.randint(0, 450)             # 2024-01-01 + day
        master = "" if r.random() < 0.1 else cat
        row = [acct, detail, _fmt_amount(_amount(r, cat)), _iso(19723 + day), desc,
               cat.lower(), master, "04/01/2025"]
        rows.append(row)
        if r.random() < 0.02 and len(rows) < n:  # exact duplicate row
            rows.append(list(row))
    return rows


def _iso(days):
    """Days since 1970-01-01 -> YYYY-MM-DD, the form staging casts to a date."""
    return (datetime.date(1970, 1, 1) + datetime.timedelta(days=days)).isoformat()


def _csv(header, rows):
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue()


def generate(seed, workload):
    """Returns {relative path: text} and the bookkeeping dict."""
    size = SIZES[workload]
    r = random.Random(f"{workload}:{seed}")
    cycles = size["cycles"]
    files = {}

    hist = _historic(r, size["historic"])
    files["seeds/historic_transactions.csv"] = _csv(
        ["account_name", "additional_account_detail", "amount", "transaction_date",
         "description", "source_category", "master_category", "input_date"], hist)
    files["seeds/seed_account_mapping_historic.csv"] = _csv(
        ["account_name", "additional_account_info", "mapped_account_name", "owner_name"],
        [[a, d, m, o] for a, d, m, o in HISTORIC_ACCOUNTS if m is not None])
    files["seeds/seed_transaction_exclusions.csv"] = _csv(["pattern"], [[p] for p in EXCLUSIONS])

    # SimpleFIN: 3 connections x 2 accounts; account (0, 0) reconnects
    connections, sf_mapping = [], []
    logical = []  # (logical id, account key, day, excluded)
    txns_by_account = {}
    for c in range(3):
        for a in range(2):
            key = (c, a)
            txns = []
            # a fixed number of purchases per account, spread over the days in
            # a seeded order: every seed gives the same volume
            days = list(range(-HISTORY_DAYS, cycles))
            per_day = [size["per_day"]] * len(days)
            for i in r.sample(range(len(days)), len(days) // 2):
                per_day[i] += 1
            for day, k in zip(days, per_day):
                for _ in range(k):
                    if r.random() < 0.04:
                        cat, desc = None, r.choice(EXCLUDED_DESCRIPTIONS)
                        amt = -round(r.uniform(50, 900), 2)
                    else:
                        cat, desc = _merchant(r)
                        amt = _amount(r, cat)
                    t = BASE + day * DAY + r.randint(8, 20) * 3600 + r.randint(0, 3599)
                    copies = 2 if r.random() < 0.03 else 1  # legit same-day repeat
                    for _ in range(copies):
                        lid = len(logical)
                        logical.append((lid, key, day, cat is None))
                        txns.append((lid, t, _fmt_amount(amt), desc))
            txns_by_account[key] = txns
    for c in range(3):
        host = f"bank{c}.bench.invalid"
        accounts = []
        for a in range(2):
            key = (c, a)
            name = ["Everyday Checking", "Rewards Card"][a] + f" {c}"
            base_acct = {"org": ["First Bay Bank", "Golden Credit Union", "Pacific Card Services"][c],
                         "domain": f"bank{c}.example"}
            if key == (0, 0):
                # reconnection: the masked old account stops, a new id takes over
                old_name, new_name = name + " (1234)", name
                accounts.append(dict(base_acct, id=f"ACT-{c}{a}-old", name=old_name,
                                     first_pull=0, last_pull=RECONNECT_PULL - 1,
                                     transactions=_txn_json(txns_by_account[key], f"TRN-{seed}-{c}{a}-o")))
                accounts.append(dict(base_acct, id=f"ACT-{c}{a}-new", name=new_name,
                                     first_pull=RECONNECT_PULL, last_pull=cycles,
                                     transactions=_txn_json(txns_by_account[key], f"TRN-{seed}-{c}{a}-n")))
                sf_mapping += [[old_name, "", f"Checking {c}"], [new_name, "", f"Checking {c}"]]
            else:
                accounts.append(dict(base_acct, id=f"ACT-{c}{a}", name=name, first_pull=0,
                                     last_pull=cycles,
                                     transactions=_txn_json(txns_by_account[key], f"TRN-{seed}-{c}{a}-s")))
                if a == 1:  # card accounts map by explicit account id
                    sf_mapping.append([name, f"ACT-{c}{a}", f"Card {c}"])
                else:
                    sf_mapping.append([name, "", f"Checking {c}"])
        connections.append({"host": host, "accounts": accounts})
    files["seeds/seed_account_mapping_simplefin.csv"] = _csv(
        ["account_name", "account_id", "mapped_account_name"], sf_mapping)

    pulls = [{"epoch": BASE, "lookback_days": HISTORY_DAYS, "max_days": 30}] + [
        {"epoch": BASE + p * DAY, "lookback_days": CYCLE_LOOKBACK_DAYS, "max_days": CYCLE_LOOKBACK_DAYS}
        for p in range(1, cycles + 1)]

    # simulate the pulls exactly as the transport answers them
    served_rows, seen_logical = [], []
    seen = set()
    for p, pull in enumerate(pulls):
        lo, hi = pull["epoch"] - pull["lookback_days"] * DAY, pull["epoch"]
        n = 0
        for conn in connections:
            for acct in conn["accounts"]:
                if acct["first_pull"] <= p <= acct["last_pull"]:
                    for t in acct["transactions"]:
                        if lo <= t["transacted_at"] < hi:
                            n += 1
                            seen.add(t["lid"])
        served_rows.append(n)
        seen_logical.append(sum(1 for lid in seen if not logical[lid][3]))

    # ids that never change: accounts that do not reconnect, not excluded
    stable = {}
    for conn in connections:
        for acct in conn["accounts"]:
            if acct["id"].endswith("-old") or acct["id"].endswith("-new"):
                continue
            for t in acct["transactions"]:
                _, _, day, excluded = logical[t["lid"]]
                if not excluded:
                    stable[t["id"]] = day
    by_day = sorted(stable, key=lambda i: (stable[i], i))
    history = [i for i in by_day if stable[i] < 0]
    r.shuffle(history)
    pool = sorted(history[:size["pool"]])
    taken = set(pool)
    validate_ids = [[]]
    for p in range(1, cycles + 1):
        # validated before pull p's ingest: ingested and predicted by pull p - 1
        cand = [i for i in by_day if stable[i] <= p - 2 and i not in taken]
        pick = sorted(r.sample(cand, 25))
        taken.update(pick)
        validate_ids.append(pick)

    for conn in connections:
        for acct in conn["accounts"]:
            for t in acct["transactions"]:
                del t["lid"]
    files["pages.json"] = json.dumps({"connections": connections}, sort_keys=True)
    plan = {"pulls": pulls, "validate_ids": validate_ids, "api_pool": pool,
            "categories": sorted(CATEGORIES), "search_terms": SEARCH_TERMS}
    files["plan.json"] = json.dumps(plan, sort_keys=True)

    historic_categorized = sum(1 for row in hist if row[6] != "")
    book = {
        "historic_rows": len(hist),
        "historic_categorized": historic_categorized,
        "served_rows": served_rows,          # per pull
        "simplefin_logical": seen_logical,   # per pull, exclusions removed
        "validate_ids": validate_ids,
        "api_pool": pool,
        "input_bytes": sum(len(files[f].encode()) for f in files if f.startswith("seeds/")),
    }
    return files, book


def _txn_json(txns, prefix):
    return [{"id": f"{prefix}{i}", "lid": lid, "posted": t + 3600, "transacted_at": t,
             "amount": amt, "description": desc}
            for i, (lid, t, amt, desc) in enumerate(txns)]




def write(seed, workload, run_dir):
    """Writes the pages and the plan to `<run_dir>/input/`, and the seed
    tables into the warehouse as parquet: the rows `Jobs.rebuildSeeds` would
    load from the CSVs, blanks as nulls, so set-up starts from a seeded
    warehouse. Returns the bookkeeping."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    files, book = generate(seed, workload)
    for rel, text in files.items():
        if rel.startswith("seeds/"):
            table = os.path.splitext(os.path.basename(rel))[0]
            header, *rows = list(csv.reader(io.StringIO(text)))
            cols = {h: pa.array([r[i] or None for r in rows], pa.string()) for i, h in enumerate(header)}
            path = os.path.join(run_dir, "warehouse", table)
            os.makedirs(path, exist_ok=True)
            pq.write_table(pa.table(cols), os.path.join(path, "part-00000.parquet"))
        else:
            path = os.path.join(run_dir, "input", rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w", encoding="utf-8") as f:
                f.write(text)
    return book

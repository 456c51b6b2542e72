"""Seeded synthetic bronze corpus for the `medallion` workload.

Writes the three bronze topics as JSON lines, shaped like the reference
producers (FIXTURES.md A2-A4), and a manifest of the silver and gold
row counts the pipeline must produce from them. Every defective line
carries exactly one defect, so each expected count follows from the
generator's own bookkeeping, not from re-running the pipeline:

  clickstream  malformed JSON, null user_id, unparseable timestamp,
               out-of-vocabulary event type, duplicate event_id
  user         null user_id, unparseable timestamp, repeated user_id
  product      null product_id, price <= 0, repeated product_id

The same seed gives byte-identical files; another seed gives others.
"""
import json
import os
import random
from datetime import datetime, timedelta, timezone

# Reference producer event mix (ecommerce_producers.py:106-109).
EVENT_MIX = [("view", 40), ("click", 25), ("add_to_cart", 15),
             ("purchase", 5), ("search", 10),
             ("recommendation_shown", 3), ("recommendation_clicked", 2)]
LEGACY = {"view": "page_view", "click": "product_click"}
# Event types the silver whitelist keeps (graft.silver.Silver).
SILVER_TYPES = {"view", "click", "add_to_cart", "purchase",
                "remove_from_cart", "search", "recommendation_clicked"}
OOV_TYPES = ["hover", "scroll", "wishlist_add"]
DEFECTS = ["malformed", "null_user", "bad_ts", "oov_type", "duplicate"]
DEFECT_SHARE = 0.01        # of clickstream lines, for each defect
LEGACY_SHARE = 0.2         # of view/click events named the legacy way
CATEGORIES = ["electronics", "books", "toys", "home", "sports", "beauty"]
DEVICES = ["mobile", "desktop", "tablet"]
T0 = datetime(2025, 9, 1, tzinfo=timezone.utc)


def ts_text(rng, t):
    """ISO-8601 as the producers emit it: UTC-aware or naive."""
    s = t.strftime("%Y-%m-%dT%H:%M:%S")
    return s + "Z" if rng.random() < 0.5 else s


class Clicks:
    """Clickstream lines plus the bookkeeping behind the manifest."""

    def __init__(self, rng, n_users, n_products):
        self.rng = rng
        self.n_users = n_users
        self.n_products = n_products
        self.next_id = 0
        self.types = [t for t, _ in EVENT_MIX]
        self.weights = [w for _, w in EVENT_MIX]

    def event(self, t):
        rng = self.rng
        etype = rng.choices(self.types, self.weights)[0]
        self.next_id += 1
        uid = rng.randrange(self.n_users)
        pid = rng.randrange(self.n_products)
        e = {"event_id": f"e{self.next_id:08d}",
             "timestamp": ts_text(rng, t),
             "session_id": f"s{uid}-{t.strftime('%d%H')}",
             "user_id": f"u{uid}",
             "event_type": LEGACY.get(etype, etype)
             if rng.random() < LEGACY_SHARE else etype,
             "device_type": rng.choice(DEVICES),
             "browser": rng.choice(["chrome", "firefox", "safari"])}
        price = round(rng.uniform(2, 500), 2)
        cat = CATEGORIES[pid % len(CATEGORIES)]
        if rng.random() < 0.3:    # minimal producer variant
            e.update(item_id=f"p{pid}", category=cat, price=price,
                     url=f"/product/p{pid}")
        else:
            e.update(product_id=f"p{pid}", product_category=cat,
                     product_price=price, page_url=f"/product/p{pid}")
        if etype == "purchase":
            q = rng.randint(1, 4)
            e.update(quantity=q, total_amount=round(q * price, 2),
                     payment_method=rng.choice(["card", "paypal"]))
        elif etype == "search":
            e.update(search_query=rng.choice(CATEGORIES),
                     search_results_count=rng.randint(0, 50))
        elif etype == "recommendation_shown":
            e.update(recommendation_algorithm="item_cf",
                     recommended_products=[
                         f"p{rng.randrange(self.n_products)}"
                         for _ in range(3)])
        return etype, e

    def hour_lines(self, start, n):
        """`n` lines of one event-time hour, and its expected silver
        rows, users, products, dates and event types."""
        rng = self.rng
        lines, good = [], []
        exp = {"raw": 0, "silver": 0, "users": set(), "products": set(),
               "dates": set(), "types": set()}
        for _ in range(n):
            t = start + timedelta(seconds=rng.uniform(0, 3599))
            etype, e = self.event(t)
            roll = rng.random()
            defect = (DEFECTS[int(roll / DEFECT_SHARE)]
                      if roll < DEFECT_SHARE * len(DEFECTS) else None)
            if defect == "duplicate" and not good:
                defect = None
            if defect == "malformed":
                lines.append(json.dumps(e)[:-7])
                continue
            if defect == "null_user":
                e["user_id"] = None
            elif defect == "bad_ts":
                e["timestamp"] = "not-a-timestamp"
            elif defect == "oov_type":
                e["event_type"] = rng.choice(OOV_TYPES)
            elif defect == "duplicate":
                e = dict(rng.choice(good))
            lines.append(json.dumps(e))
            if defect is None and etype in SILVER_TYPES:
                good.append(e)
                exp["silver"] += 1
                exp["users"].add(e["user_id"])
                exp["products"].add(e.get("product_id") or e["item_id"])
                exp["dates"].add(t.strftime("%Y-%m-%d"))
                exp["types"].add(etype)
        exp["raw"] = len(lines)
        return lines, exp


def users(rng, n_users):
    lines, valid = [], set()
    for uid in range(n_users):
        for _ in range(rng.randint(1, 2)):   # repeats: keep-latest
            t = T0 - timedelta(days=rng.randint(0, 30),
                               seconds=rng.randint(0, 86399))
            u = {"user_id": f"u{uid}", "timestamp": ts_text(rng, t),
                 "age": rng.randint(18, 80),
                 "total_purchases": rng.randint(0, 40),
                 "total_spent": (None if rng.random() < 0.05
                                 else round(rng.uniform(0, 5000), 2)),
                 "avg_order_value": round(rng.uniform(5, 300), 2),
                 "created_at": ts_text(rng, t - timedelta(days=400)),
                 "device_type": rng.choice(DEVICES)}
            roll = rng.random()
            if roll < 0.02:
                u["user_id"] = None
            elif roll < 0.04:
                u["timestamp"] = "not-a-date"
            else:
                valid.add(u["user_id"])
            lines.append(json.dumps(u))
    return lines, len(valid)


def products(rng, n_products):
    lines, valid = [], set()
    for pid in range(n_products):
        for _ in range(rng.randint(1, 2)):
            t = T0 - timedelta(days=rng.randint(0, 30))
            cat = CATEGORIES[pid % len(CATEGORIES)]
            p = {"product_id": f"p{pid}", "timestamp": ts_text(rng, t),
                 "name": f"item {pid}",
                 "category": rng.choice([cat, cat.upper(), f" {cat} "]),
                 "price": round(rng.uniform(1, 600), 2),
                 "stock_quantity": rng.randint(0, 100),
                 "rating": round(rng.uniform(1, 5), 1)}
            roll = rng.random()
            if roll < 0.02:
                p["product_id"] = None
            elif roll < 0.04:
                p["price"] = -p["price"] if rng.random() < 0.5 else 0.0
            else:
                valid.add(p["product_id"])
            lines.append(json.dumps(p))
    return lines, len(valid)


def write_parts(dir_path, prefix, lines, parts):
    os.makedirs(dir_path, exist_ok=True)
    per = -(-len(lines) // parts)
    for i in range(parts):
        chunk = lines[i * per:(i + 1) * per]
        if chunk:
            with open(os.path.join(dir_path, f"{prefix}{i:02d}.json"),
                      "w", encoding="utf-8", newline="\n") as f:
                f.write("\n".join(chunk) + "\n")


def generate(out_dir, seed, backfill_hours, events_per_backfill_hour,
             increments, events_per_increment, n_users, n_products,
             parts=4):
    """Write `bronze/topics/...` and `hours/hNN/` under `out_dir`;
    return the manifest (also written as `manifest.json`)."""
    rng = random.Random(seed)
    clicks = Clicks(rng, n_users, n_products)
    raw = silver = 0
    u, p, d, ty = set(), set(), set(), set()
    lines = []
    for h in range(backfill_hours):
        ls, e = clicks.hour_lines(T0 + timedelta(hours=h),
                                  events_per_backfill_hour)
        lines += ls
        raw += e["raw"]
        silver += e["silver"]
        u |= e["users"]; p |= e["products"]
        d |= e["dates"]; ty |= e["types"]
    topics = os.path.join(out_dir, "bronze", "topics")
    write_parts(os.path.join(topics, "clickstream-events"), "part-",
                lines, parts)
    ulines, n_user_silver = users(rng, n_users)
    write_parts(os.path.join(topics, "user-events"), "part-", ulines, 1)
    plines, n_product_silver = products(rng, n_products)
    write_parts(os.path.join(topics, "product-events"), "part-", plines, 1)
    manifest = {
        "seed": seed,
        "silver": {"clickstream": {"raw": raw, "processed": silver},
                   "user": {"raw": len(ulines),
                            "processed": n_user_silver},
                   "product": {"raw": len(plines),
                               "processed": n_product_silver}},
        "gold_rows": {"user_summary": len(u), "product_summary": len(p),
                      "daily_stats": len(d), "engagement_metrics": len(ty),
                      "enriched_events": silver},
        "bronze_bytes": 0,
        "hours": []}
    seen = set()
    for k in range(increments):
        start = T0 + timedelta(hours=backfill_hours + k)
        ls, e = clicks.hour_lines(start, events_per_increment)
        hdir = os.path.join(out_dir, "hours", f"h{k:02d}")
        write_parts(hdir, f"h{k:02d}-part-", ls, parts)
        seen |= e["users"]
        manifest["hours"].append({
            "dir": hdir, "start": start.strftime("%Y-%m-%dT%H:%M:%SZ"),
            "raw": e["raw"], "silver": e["silver"],
            "report_rows": len(seen)})
    manifest["bronze_bytes"] = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(os.path.join(out_dir, "bronze")) for f in fs)
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest

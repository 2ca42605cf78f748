"""Seeded rehive-serve domain, request script and expected answers.

The domain follows the reference schema (FIXTURES.md section B):

  users           25,000  package 1-5, created over one year
  referrals       24,999  random recursive tree: user i (i >= 1) was
                          referred by a uniform pick among users 0..i-1, so
                          the mean depth is about 10 and the 10-level cap
                          binds for about 44% of them
  packages             5  price 100-500, direct rate 0.06-0.10,
                          passive rate 0.01-0.05
  gift_codes      50,000  unique 8-hex codes; 30% already redeemed
  commissions    250,000  user = floor(n * u^4): a few hot users hold most rows
  notifications  125,000  same skew
  withdrawals     12,500  same skew; pending, approved or rejected

Every money amount is a multiple of 0.5, so sums are exact in any order.
Commissions and notifications are stored sorted by user, in row groups of
65,536 rows, the way a table clustered on its lookup key would be.

The request script is one pass: 32 requests in a fixed mix (27 reads, 5
writes) shuffled by the script seed. For each request the generator works
out the answer itself, without Spark: the upline capped at 10 levels, the
newest-N feeds, earned minus approved withdrawals, and the guards of the
redeem route. `expected.json` holds each answer's canonical digest.
"""
import datetime
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import canon

N_USERS = 25_000
N_CODES = 50_000
N_COMMISSIONS = 250_000
N_NOTIFICATIONS = 125_000
N_WITHDRAWALS = 12_500
MAX_LEVELS = 10
FEED_LIMITS = {"commission_feed": 100, "notification_feed": 50}

# requests per pass, by route: 27 reads and 5 writes
MIX = {"user_with_package": 5, "referrals_of": 5, "gift_codes_of": 4,
       "commission_feed": 5, "notification_feed": 4, "list_packages": 1,
       "balance": 3, "redeem": 3, "request_withdrawals": 2}

T0 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
YEAR_US = 365 * 86_400 * 1_000_000
EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
TS = pa.timestamp("us", tz="UTC")


def ts(us):
    return EPOCH + datetime.timedelta(microseconds=int(us))


def skewed(rng, n, size):
    return np.minimum((n * rng.random(size) ** 4).astype(np.int64), n - 1)


def make_domain(seed):
    rng = np.random.default_rng([seed, 1])
    ids = np.arange(N_USERS, dtype=np.int64)
    users = {
        "id": ids,
        "full_name": np.array(["User %d" % i for i in ids], dtype=object),
        "email": np.array(["user%d@example.com" % i for i in ids], dtype=object),
        "package_id": rng.integers(1, 6, N_USERS).astype(np.int32),
        "created_at": np.sort(T0 + rng.integers(0, YEAR_US, N_USERS)),
    }
    parent = np.full(N_USERS, -1, dtype=np.int64)
    parent[1:] = (rng.random(N_USERS - 1) * np.arange(1, N_USERS)).astype(np.int64)
    referrals = {
        "id": ids[1:], "referrer_id": parent[1:], "referred_id": ids[1:],
        "created_at": users["created_at"][1:],
    }
    pk = np.arange(1, 6, dtype=np.int32)
    packages = {
        "id": pk,
        "name": np.array(["Tier %d" % i for i in pk], dtype=object),
        "price": pk.astype(np.float64) * 100.0,
        "direct_commission_rate": 0.05 + 0.01 * pk.astype(np.float64),
        "passive_commission_rate": 0.01 * pk.astype(np.float64),
    }
    creators = skewed(rng, N_USERS, N_CODES)
    redeemed = rng.random(N_CODES) < 0.3
    redeemer = (creators + 1 + rng.integers(0, N_USERS - 1, N_CODES)) % N_USERS
    codes = rng.choice(1 << 32, N_CODES, replace=False)
    gift_codes = {
        "id": np.arange(N_CODES, dtype=np.int64),
        "code": np.array(["%08X" % c for c in codes], dtype=object),
        "package_id": rng.integers(1, 6, N_CODES).astype(np.int32),
        "created_by": creators,
        "is_redeemed": redeemed,
        "redeemed_by": np.where(redeemed, redeemer, -1),
        "created_at": T0 + rng.integers(0, YEAR_US, N_CODES),
    }
    cu = np.sort(skewed(rng, N_USERS, N_COMMISSIONS))
    commissions = {
        "id": rng.permutation(N_COMMISSIONS).astype(np.int64),
        "user_id": cu,
        "redemption_id": rng.integers(0, N_CODES, N_COMMISSIONS).astype(np.int64),
        "amount": rng.integers(1, 400, N_COMMISSIONS) * 0.5,
        "ctype": np.where(rng.random(N_COMMISSIONS) < 0.2, "direct", "passive").astype(object),
        "level": rng.integers(0, MAX_LEVELS + 1, N_COMMISSIONS).astype(np.int64),
        "created_at": T0 + rng.integers(0, YEAR_US, N_COMMISSIONS),
    }
    nu = np.sort(skewed(rng, N_USERS, N_NOTIFICATIONS))
    kinds = np.array(["Commission earned", "Gift code redeemed", "Withdrawal update",
                      "Package renewed"], dtype=object)
    notifications = {
        "id": rng.permutation(N_NOTIFICATIONS).astype(np.int64),
        "user_id": nu,
        "title": kinds[rng.integers(0, len(kinds), N_NOTIFICATIONS)],
        "is_read": rng.random(N_NOTIFICATIONS) < 0.5,
        "created_at": T0 + rng.integers(0, YEAR_US, N_NOTIFICATIONS),
    }
    statuses = np.array(["pending", "approved", "rejected"], dtype=object)
    withdrawals = {
        "id": np.arange(N_WITHDRAWALS, dtype=np.int64),
        "user_id": skewed(rng, N_USERS, N_WITHDRAWALS),
        "amount": rng.integers(1, 400, N_WITHDRAWALS) * 0.5,
        "status": statuses[rng.integers(0, 3, N_WITHDRAWALS)],
        "created_at": T0 + rng.integers(0, YEAR_US, N_WITHDRAWALS),
    }
    return {"users": users, "referrals": referrals, "packages": packages,
            "gift_codes": gift_codes, "commissions": commissions,
            "notifications": notifications, "withdrawals": withdrawals}, parent


def write_parquet(d, out_dir):
    for name, cols in d.items():
        arrays = {}
        for k, v in cols.items():
            if k == "created_at":
                arrays[k] = pa.array(v, type=pa.int64()).cast(TS)
            elif k == "redeemed_by":
                arrays[k] = pa.array(v, mask=v < 0, type=pa.int64())
            else:
                arrays[k] = pa.array(v)
        pq.write_table(pa.table(arrays), os.path.join(out_dir, name + ".parquet"),
                       row_group_size=65_536)


class Answers:
    """The generator's own answer to every route, from the arrays."""

    def __init__(self, d, parent):
        self.d, self.parent = d, parent
        u, c, n = d["users"], d["commissions"], d["notifications"]
        self.pk = {int(p): i for i, p in enumerate(d["packages"]["id"])}
        g = d["gift_codes"]
        self.code_ix = {s: i for i, s in enumerate(g["code"])}
        self.codes_by = _group(g["created_by"])
        r = d["referrals"]
        self.kids = {k: r["referred_id"][v].tolist()
                     for k, v in _group(r["referrer_id"]).items()}
        self.comm_by = _group(c["user_id"])
        self.notif_by = _group(n["user_id"])
        w = d["withdrawals"]
        earned = np.bincount(c["user_id"], weights=c["amount"], minlength=N_USERS)
        ok = w["status"] == "approved"
        out = np.bincount(w["user_id"][ok], weights=w["amount"][ok], minlength=N_USERS)
        has = np.bincount(c["user_id"], minlength=N_USERS) > 0
        has |= np.bincount(w["user_id"][ok], minlength=N_USERS) > 0
        self.balance = {i: float(earned[i] - out[i]) for i in np.nonzero(has)[0]}
        self.user_cols = list(u.keys())

    def upline(self, user):
        out, cur, lvl = [], user, 0
        while lvl < MAX_LEVELS and self.parent[cur] >= 0:
            cur, lvl = int(self.parent[cur]), lvl + 1
            out.append((cur, lvl))
        return out

    def package(self, pid):
        p = self.d["packages"]
        i = self.pk[int(pid)]
        return {"name": p["name"][i], "price": float(p["price"][i]),
                "passive_commission_rate": float(p["passive_commission_rate"][i]),
                "direct_commission_rate": float(p["direct_commission_rate"][i])}

    def _py(self, k, v):
        if k == "created_at":
            return ts(v)
        if isinstance(v, np.generic):
            return v.item()
        return v

    def _newest(self, table, rows, limit):
        t = self.d[table]
        rows = sorted(rows, key=lambda i: (-t["created_at"][i], -t["id"][i]))[:limit]
        names = list(t.keys())
        return names, [tuple(self._py(k, t[k][i]) for k in names) for i in rows]

    def answer(self, route, arg):
        d = self.d
        if route == "user_with_package":
            u = d["users"]
            i = int(arg)
            names = self.user_cols + ["package"]
            row = tuple(self._py(k, u[k][i]) for k in self.user_cols)
            return names, [row + (self.package(u["package_id"][i]),)], False
        if route == "referrals_of":
            u = d["users"]
            kids = sorted(self.kids.get(int(arg), []),
                          key=lambda k: (-u["created_at"][k], k))
            names = ["referred_id", "full_name", "email", "package_id", "created_at"]
            return names, [(k, u["full_name"][k], u["email"][k], int(u["package_id"][k]),
                            ts(u["created_at"][k])) for k in kids], False
        if route == "gift_codes_of":
            g, u = d["gift_codes"], d["users"]
            rows = []
            for i in self.codes_by.get(int(arg), []):
                p = self.package(g["package_id"][i])
                r = int(g["redeemed_by"][i])
                rows.append((g["code"][i], p["name"], p["price"], bool(g["is_redeemed"][i]),
                             u["full_name"][r] if r >= 0 else None, g["created_at"][i]))
            rows.sort(key=lambda r: (-r[5], r[0]))
            names = ["code", "package_name", "price", "is_redeemed", "redeemer_name",
                     "created_at"]
            return names, [r[:5] + (ts(r[5]),) for r in rows], False
        if route in FEED_LIMITS:
            table = "commissions" if route == "commission_feed" else "notifications"
            by = self.comm_by if table == "commissions" else self.notif_by
            names, rows = self._newest(table, by.get(int(arg), []), FEED_LIMITS[route])
            return names, rows, False
        if route == "list_packages":
            p = d["packages"]
            order = sorted(range(len(p["id"])), key=lambda i: (p["price"][i], p["id"][i]))
            names = list(p.keys())
            return names, [tuple(self._py(k, p[k][i]) for k in names) for i in order], False
        if route == "balance":
            u = int(arg)
            rows = [(u, self.balance[u])] if u in self.balance else []
            return ["user_id", "balance"], rows, False
        if route == "redeem":
            return self.redeem(arg)
        if route == "request_withdrawals":
            rows = []
            for part in arg.split(","):
                who, amt = part.split(":")
                amt = float(amt)
                ok = amt <= self.balance.get(int(who), 0.0)
                rows.append((int(who), amt, "pending" if ok else
                             "rejected_insufficient_balance"))
            return ["user_id", "amount", "status"], rows, True
        raise ValueError(route)

    def redeem(self, arg):
        g = self.d["gift_codes"]
        first = {}
        for part in arg.split(","):
            code, who = part.split(":")
            i = self.code_ix.get(code)
            who = int(who)
            if i is None or g["is_redeemed"][i] or g["created_by"][i] == who:
                continue
            first[i] = min(who, first.get(i, who))
        rows = []
        for i, who in first.items():
            p = self.package(g["package_id"][i])
            price = p["price"]
            rows.append((i, int(g["created_by"][i]), price * p["direct_commission_rate"],
                         "direct", 0))
            for anc, lvl in self.upline(who):
                rows.append((i, anc, price * p["passive_commission_rate"], "passive", lvl))
        return ["redemption_id", "user_id", "amount", "ctype", "level"], rows, True


def _group(keys):
    order = np.argsort(keys, kind="stable")
    cuts = np.nonzero(np.diff(keys[order]))[0] + 1
    return {int(keys[s[0]]): s.tolist() for s in np.split(order, cuts)}


def make_script(ans, seed):
    rng = np.random.default_rng([seed, 2])
    d = ans.d
    g = d["gift_codes"]
    # each route's users are a stratified draw from the activity skew: one
    # user per equal-probability stratum, so every script asks for about
    # as many hot users and as much work as any other
    users = {r: list(np.minimum((N_USERS * ((np.arange(n) + rng.random(n)) / n) ** 4)
                                .astype(np.int64), N_USERS - 1)) for r, n in MIX.items()}
    routes = [r for r, n in MIX.items() for _ in range(n)]
    rng.shuffle(routes)
    reqs = []
    for idx, route in enumerate(routes):
        user = int(users[route].pop())
        arg, meta = str(user), ""
        if route == "list_packages":
            arg = ""
        elif route == "redeem":
            arg, meta = redeem_batch(rng, g)
        elif route == "request_withdrawals":
            parts = []
            for w in skewed(rng, N_USERS, 3):
                bal = ans.balance.get(int(w), 0.0)
                amt = (np.floor(bal * 2 * rng.uniform(0.5, 1.5)) / 2) if bal > 0 else 10.0
                parts.append("%d:%s" % (w, repr(float(max(amt, 0.5)))))
            arg = ",".join(parts)
        reqs.append((idx, route, arg, meta))
    return reqs


def redeem_batch(rng, g):
    """About 20 redemptions: 16 valid codes, one of them twice (first
    wins), two codes redeemed before and one redeemed by its creator."""
    free = np.nonzero(~g["is_redeemed"])[0]
    used = np.nonzero(g["is_redeemed"])[0]
    valid = rng.choice(free, 17, replace=False)
    pairs = []
    for i in valid[:16]:
        who = (int(g["created_by"][i]) + 1 + int(rng.integers(0, N_USERS - 1))) % N_USERS
        pairs.append((g["code"][i], who))
    dup = valid[0]
    pairs.append((g["code"][dup], (int(g["created_by"][dup]) + 7) % N_USERS))
    invalid = list(rng.choice(used, 2, replace=False)) + [valid[16]]
    for i in invalid[:2]:
        pairs.append((g["code"][i], (int(g["created_by"][i]) + 3) % N_USERS))
    pairs.append((g["code"][valid[16]], int(g["created_by"][valid[16]])))
    order = rng.permutation(len(pairs))
    arg = ",".join("%s:%d" % pairs[k] for k in order)
    meta = "valid=%s;invalid=%s" % (",".join(str(int(i)) for i in valid[:16]),
                                    ",".join(str(int(i)) for i in invalid))
    return arg, meta


def generate(domain_dir, script_dir, domain_seed, script_seed):
    """Write the domain tables to domain_dir unless they are there, and
    script.tsv and expected.json to script_dir."""
    d, parent = make_domain(domain_seed)
    if not os.path.isdir(domain_dir):
        tmp = domain_dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        write_parquet(d, tmp)
        os.rename(tmp, domain_dir)
    os.makedirs(script_dir, exist_ok=True)
    ans = Answers(d, parent)
    expected = {}
    with open(os.path.join(script_dir, "script.tsv"), "w") as f:
        for idx, route, arg, meta in make_script(ans, script_seed):
            f.write("%d\t%s\t%s\t%s\n" % (idx, route, arg, meta))
            names, rows, unordered = ans.answer(route, arg)
            n, sha = canon.digest(names, rows, unordered)
            expected[str(idx)] = {"route": route, "rows": n, "sha256": sha}
    with open(os.path.join(script_dir, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)

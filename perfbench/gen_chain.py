#!/usr/bin/env python3
"""Seeded chainweb generator: wire JSON for the engine plus the ground truth.

Emits, into an output directory:

  blocks.jsonl  one ingest envelope per line, {"header": H, "payload": P},
                in the wire shapes `graft.ingest.Flatten` parses (the
                `blocksBetween` item halves of chainweb-node). Lines are
                ordered by (height, chain, canonical-before-orphan).
  truth.json    what the engine must answer: per-table row counts (all
                blocks, and every height prefix from --base-heights on),
                and the expected ordered result of every session in the
                request mix.

The engine only ever sees blocks.jsonl (directly, or through the mock node);
truth.json is computed here, independently of the engine, from the reference
semantics documented in the engine's operators.

The data covers exec and cont txs (multi-step escrow pacts whose steps carry
the opening tx's pact id), cross-chain send/receive pairs
(`coin.TRANSFER_XCHAIN` then `pact.X_RESUME` on the target chain),
signer/sig count mismatches, failed txs, orphan fork twins that share
request keys with the canonical block, several tokens and modules, and
Zipf-distributed accounts.

Usage: gen_chain.py --seed N --heights H --out DIR [--base-heights B]
"""
import argparse
import json
import os
import random

CHAINS = 10
# server.Api.DefaultLimit: the page size of a session that names no limit
PAGE = 10
# An account session reads the first pages of a history, not all of it
# (an assumption: the hottest account's history is 10+ pages)
ACCOUNT_PAGES = 3
ACCOUNTS = 240
APPS = 24
MINERS = 6
USER_TXS = 3
TOKENS = [("free", "tok"), ("user", "gem"), ("kaddex", "kdx")]
T0_MICROS = 1_700_000_000_000_000


def zipf_weights(n, s):
    return [1.0 / (i + 1) ** s for i in range(n)]


class Gen:
    def __init__(self, seed, heights):
        self.rng = random.Random(seed)
        self.heights = heights
        self.accounts = ["u%03d" % i for i in range(ACCOUNTS)]
        self.acct_w = zipf_weights(ACCOUNTS, 1.1)
        self.app_w = zipf_weights(APPS, 0.9)
        self.blocks = []        # list of block dicts (canonical and orphan)
        self.pending = {}       # (chain, height) -> [cont tx specs]

    # --- primitive draws -------------------------------------------------
    def hexid(self, n=32):
        return "%0*x" % (n, self.rng.getrandbits(4 * n))

    def b64(self, nbytes=32):
        alphabet = ("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
                    "0123456789-_")
        return "".join(self.rng.choice(alphabet) for _ in range(nbytes * 4 // 3))

    def account(self, avoid=None):
        while True:
            a = self.rng.choices(self.accounts, self.acct_w)[0]
            if a != avoid:
                return a

    def amount(self):
        return "%d.%02d" % (self.rng.randint(0, 500), self.rng.randint(0, 99))

    def signers(self):
        r = self.rng.random()
        n_signers, n_sigs = (1, 1)
        if r < 0.05:
            n_signers, n_sigs = (2, 1)   # more signers than sigs
        elif r < 0.08:
            n_signers, n_sigs = (1, 2)   # more sigs than signers
        elif r < 0.15:
            n_signers, n_sigs = (2, 2)
        return n_signers, n_sigs

    # --- transactions ----------------------------------------------------
    def event(self, ns, module, name, params, mhash=None):
        return {"name": name, "module": {"namespace": ns, "name": module},
                "moduleHash": mhash or ("mh-" + module), "params": params}

    def tx(self, chain, kind, code=None, cont=None, events=(), ok=True,
           continuation=None, sender=None):
        return {"rk": self.hexid(), "kind": kind, "chain": chain,
                "code": code, "cont": cont, "events": list(events), "ok": ok,
                "continuation": continuation, "sender": sender,
                "signers": self.signers()}

    def user_tx(self, chain, height):
        r = self.rng.random()
        a = self.account()
        if r < 0.40:
            b, amt = self.account(avoid=a), self.amount()
            return self.tx(chain, "coin", sender=a,
                           code='(coin.transfer "%s" "%s" %s)' % (a, b, amt),
                           events=[self.event(None, "coin", "TRANSFER",
                                              [a, b, {"decimal": amt}])])
        if r < 0.52:
            ns, mod = self.rng.choice(TOKENS)
            b, n = self.account(avoid=a), self.rng.randint(1, 900)
            return self.tx(chain, "token", sender=a,
                           code='(%s.%s.transfer "%s" "%s" %d)' % (ns, mod, a, b, n),
                           events=[self.event(ns, mod, "TRANSFER", [a, b, {"int": n}])])
        if r < 0.58:
            b, amt = self.account(avoid=a), self.amount()
            tgt = self.rng.choice([c for c in range(CHAINS) if c != chain])
            t = self.tx(chain, "xsend", sender=a,
                        code='(coin.transfer-crosschain "%s" "%s" "%d" %s)'
                             % (a, b, tgt, amt),
                        continuation={"step": 0, "stepCount": 2},
                        events=[self.event(None, "coin", "TRANSFER_XCHAIN",
                                           [a, b, {"decimal": amt}, str(tgt)]),
                                self.event(None, "coin", "TRANSFER",
                                           [a, "", {"decimal": amt}])])
            land = height + self.rng.randint(1, 3)
            self.pending.setdefault((tgt, land), []).append(
                ("xrecv", t["rk"], chain, a, b, amt))
            return t
        if r < 0.63:
            b = self.account(avoid=a)
            t = self.tx(chain, "escrow_open", sender=a,
                        code='(free.escrow.open "%s" "%s")' % (a, b),
                        continuation={"step": 0, "stepCount": 3},
                        events=[self.event("free", "escrow", "OPENED", [a, b])])
            for step in (1, 2):
                land = height + step * self.rng.randint(1, 2)
                self.pending.setdefault((chain, land), []).append(
                    ("escrow_step", t["rk"], step, a, b, None))
            return t
        if r < 0.70:
            return self.tx(chain, "failed", sender=a, ok=False,
                           code='(free.dex.swap "%s" %d)' % (a, self.rng.randint(1, 99)))
        app = self.rng.choices(range(APPS), self.app_w)[0]
        return self.tx(chain, "app", sender=a,
                       code='(free.app%02d.call "%s" %d)' % (app, a, self.rng.randint(0, 9999)),
                       events=[self.event("free", "app%02d" % app, "CALL",
                                          [a, str(self.rng.randint(0, 99))])])

    def cont_tx(self, chain, spec):
        kind, pact, src, a, b, amt = spec
        if kind == "xrecv":
            return self.tx(chain, "xrecv", sender=b,
                           cont={"pactId": pact, "step": 1},
                           events=[self.event(None, "pact", "X_RESUME",
                                              [str(src), "coin.transfer-crosschain",
                                               [a, b, amt]]),
                                   self.event(None, "coin", "TRANSFER",
                                              ["", b, {"decimal": amt}])])
        step = src
        return self.tx(chain, "escrow_step", sender=a,
                       cont={"pactId": pact, "step": step},
                       events=[self.event("free", "escrow", "STEP", [a, str(step)])])

    # --- blocks ----------------------------------------------------------
    def block(self, chain, height, txs, parent, orphan=False):
        miner = "miner%d" % self.rng.randrange(MINERS)
        return {"chain": chain, "height": height, "hash": self.b64(),
                "parent": parent, "orphan": orphan, "txs": txs,
                "miner": miner, "keys": ["key-" + self.hexid(8)
                                         for _ in range(self.rng.randint(1, 2))],
                "ph": self.b64(), "pow": self.b64(),
                "time": T0_MICROS + height * 30_000_000 + chain * 1_000}

    def generate(self):
        parents = {}
        for h in range(self.heights):
            for c in range(CHAINS):
                txs = [self.cont_tx(c, s) for s in self.pending.pop((c, h), [])]
                # a fixed number of user txs per block keeps batch sizes, and
                # so the per-batch figures, alike across seeds
                txs += [self.user_tx(c, h) for _ in range(USER_TXS)]
                b = self.block(c, h, txs, parents.get(c, "genesis-%d" % c))
                self.blocks.append(b)
                # Orphan fork twin, on one chain of every 4th height: same
                # height and parent, its own hash and payload, re-including
                # the block's plain exec txs (so their request keys appear in
                # two blocks). Pact txs stay out, see the README (known
                # program defects).
                if h % 4 == 1 and c == (h // 4) % CHAINS:
                    plain = [t for t in txs if t["kind"] in ("coin", "token", "app", "failed")]
                    self.blocks.append(self.block(c, h, plain, b["parent"], orphan=True))
                parents[c] = b["hash"]
        return self.blocks


# --- wire encoding ---------------------------------------------------------

def header_json(b):
    return {"chainId": b["chain"], "height": b["height"], "hash": b["hash"],
            "parent": b["parent"], "creationTime": b["time"],
            "payloadHash": b["ph"], "nonce": str(b["height"] * 7 + 1),
            "target": "9" * 20, "weight": str(b["height"] + 1),
            "epochStart": T0_MICROS, "featureFlags": 0, "powHash": b["pow"]}


def tx_json(b, t, i):
    if t["cont"] is not None:
        payload = {"cont": {"pactId": t["cont"]["pactId"], "rollback": False,
                            "step": t["cont"]["step"], "data": {}, "proof": None}}
    else:
        payload = {"exec": {"code": t["code"], "data": {"k": i}}}
    n_signers, n_sigs = t["signers"]
    cont = None
    if t["continuation"] is not None:
        cont = dict(t["continuation"], pactId=t["rk"])
    return {
        "requestKey": t["rk"],
        "cmd": {"payload": payload,
                "signers": [{"pubKey": "pk-%s-%d" % (t["rk"][:8], j),
                             "scheme": "ED25519", "caps": []}
                            for j in range(n_signers)],
                "nonce": "n-%s" % t["rk"][:6],
                "meta": {"chainId": str(b["chain"]), "sender": t["sender"],
                         "gasLimit": 2500, "gasPrice": 1.0e-8, "ttl": 28800,
                         "creationTime": b["time"] // 1_000_000 - 5}},
        "sigs": [{"sig": "sig-%s-%d" % (t["rk"][:8], j)} for j in range(n_sigs)],
        "result": {"gas": 600 + i, "status": "success" if t["ok"] else "failure",
                   "data": {"ok": True} if t["ok"] else {"error": "swap failed"},
                   "txId": 1000 + i, "logs": "logs-" + t["rk"][:10],
                   "continuation": cont,
                   "events": t["events"] if t["ok"] else []}}


def payload_json(b):
    return {"payloadHash": b["ph"],
            "minerData": {"account": b["miner"], "publicKeys": b["keys"]},
            "transactions": [tx_json(b, t, i) for i, t in enumerate(b["txs"])],
            "coinbase": {"gas": 0, "status": "success",
                         "events": [{"name": "TRANSFER",
                                     "module": {"namespace": None, "name": "coin"},
                                     "moduleHash": "mh-coin",
                                     "params": ["", b["miner"], 2.304523]}]}}


# --- ground truth ----------------------------------------------------------

def qualname(ev):
    ns = ev["module"]["namespace"]
    return ".".join(([ns] if ns else []) + [ev["module"]["name"], ev["name"]])


def flat_rows(blocks):
    """The six tables' primary keys plus the columns the checks need,
    mirroring Flatten (coinbase events under request key 'cb' with their
    position as idx; signer rows = min(#signers, #sigs))."""
    tx_rows, ev_rows, tr_rows = [], [], []
    keys = {"blocks": set(), "minerkeys": set(), "transactions": set(),
            "events": set(), "signers": set(), "transfers": set()}
    for b in blocks:
        keys["blocks"].add(b["hash"])
        for k in b["keys"]:
            keys["minerkeys"].add((b["hash"], k))
        evs = []
        for i, t in enumerate(b["txs"]):
            keys["transactions"].add((b["hash"], t["rk"]))
            tx_rows.append((b, t))
            for j in range(min(*t["signers"])):
                keys["signers"].add((t["rk"], j))
            for idx, ev in enumerate(t["events"] if t["ok"] else []):
                evs.append((t["rk"], idx, ev))
        evs.append(("cb", 0, {"name": "TRANSFER",
                              "module": {"namespace": None, "name": "coin"},
                              "moduleHash": "mh-coin",
                              "params": ["", b["miner"], 2.304523]}))
        for rk, idx, ev in evs:
            keys["events"].add((b["hash"], idx, rk))
            ev_rows.append((b, rk, idx, ev))
            if qualname(ev).endswith("TRANSFER") and len(ev["params"]) == 3:
                keys["transfers"].add((b["hash"], b["chain"], idx,
                                       ev["moduleHash"], rk))
                tr_rows.append((b, rk, idx, ev))
    counts = {k: len(v) for k, v in keys.items()}
    return counts, tx_rows, ev_rows, tr_rows


def desc(s):
    """Sort key that orders strings descending inside an ascending sort."""
    return tuple(-ord(ch) for ch in s) + (1,)


def sessions(blocks, rng):
    _, tx_rows, ev_rows, tr_rows = flat_rows(blocks)
    by_rk = {}
    for b, t in tx_rows:
        by_rk.setdefault(t["rk"], []).append((b, t))

    # /txs/search: code, or for a continuation the code of the tx its
    # pactId names; cursor (height DESC, requestkey DESC, block DESC).
    def code_merged(t):
        if t["code"] is not None:
            return t["code"]
        parents = by_rk.get(t["cont"]["pactId"], [])
        return parents[0][1]["code"] if parents else None

    terms = (["free.app%02d." % i for i in (0, 1, 2, 4, 8, 16)] +
             ["transfer-crosschain", "free.escrow.open", "free.dex.swap",
              "free.tok.transfer", "kaddex.kdx."])
    search = []
    for term in terms:
        rows = [(b["height"], t["rk"], b["hash"]) for b, t in tx_rows
                if term in (code_merged(t) or "")]
        rows.sort(key=lambda r: (-r[0], desc(r[1]), desc(r[2])))
        search.append({"params": {"search": term},
                       "rows": [list(r) for r in rows]})

    # /txs/events: uppercase event names never occur in params (accounts,
    # keys and modules are lower case), so a search term matches qualname
    # only. Cursor (height DESC, requestkey DESC, idx ASC, block DESC).
    ev_queries = [{"search": "TRANSFER_XCHAIN"}, {"search": "X_RESUME"},
                  {"search": "OPENED"}, {"search": "STEP"},
                  {"qualname": "CALL", "modulename": "app03"},
                  {"qualname": "CALL", "modulename": "app01"},
                  {"search": "TRANSFER", "modulename": "gem"}]
    events = []
    for q in ev_queries:
        def hit(ev):
            qn = qualname(ev)
            return (("search" not in q or q["search"] in qn) and
                    ("qualname" not in q or q["qualname"] in qn) and
                    ("modulename" not in q or ev["module"]["name"] == q["modulename"]))
        rows = [(b["height"], rk, b["hash"], idx) for b, rk, idx, ev in ev_rows if hit(ev)]
        rows.sort(key=lambda r: (-r[0], desc(r[1]), r[3], desc(r[2])))
        events.append({"params": q, "rows": [list(r) for r in rows]})

    # /txs/account/<a>?token=t: transfers with from or to = a, token as the
    # filter mark; cursor (height DESC, requestkey DESC, idx ASC, block DESC).
    # crossChainAccount resolves an empty side of a coin transfer. Sessions
    # alternate hot and cold accounts (Zipf ranks); each expects the rows
    # of its first ACCOUNT_PAGES pages.
    xsend = {}
    xrecv = {}
    for b, rk, idx, ev in ev_rows:
        qn = qualname(ev)
        if qn == "coin.TRANSFER_XCHAIN":
            xsend[(b["hash"], rk, idx + 1)] = (ev["params"][0], ev["params"][1])
        if qn == "pact.X_RESUME":
            xrecv.setdefault((b["hash"], rk), (ev["params"][2][0], ev["params"][2][1]))
    accounts = []
    by_rank = ["u%03d" % i for i in (0, 144, 1, 89, 2, 55, 3, 34, 5, 21, 8, 13)]
    for acct, token in ([(a, "coin") for a in by_rank] +
                        [("u%03d" % i, "tok") for i in (0, 4, 30)]):
        rows = []
        for b, rk, idx, ev in tr_rows:
            frm, to = ev["params"][0], ev["params"][1]
            if acct not in (frm, to) or ev["module"]["name"] != token:
                continue
            xacct = None
            if token == "coin" and to == "":
                s = xsend.get((b["hash"], rk, idx))
                xacct = s[1] if s and s[0] == frm else None
            elif token == "coin" and frm == "" and rk != "cb":
                r = xrecv.get((b["hash"], rk))
                xacct = r[0] if r and r[1] == to else None
            rows.append((b["height"], rk, b["hash"], idx, xacct))
        rows.sort(key=lambda r: (-r[0], desc(r[1]), r[3], desc(r[2])))
        accounts.append({"account": acct, "params": {"token": token},
                         "pages": ACCOUNT_PAGES,
                         "rows": [list(r) for r in rows[:ACCOUNT_PAGES * PAGE]]})

    # /txs/tx/<rk>: one row; success first, then highest height, then block.
    detail = []
    for rk in rng.sample(sorted(by_rk), 80):
        copies = sorted(by_rk[rk], key=lambda bt: (not bt[1]["ok"], -bt[0]["height"],
                                                  bt[0]["hash"]))
        b, t = copies[0]
        detail.append({"rk": rk, "block": b["hash"], "sigs": min(*t["signers"])})
    return {"search": search, "events": events, "account": accounts,
            "detail": detail}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--heights", type=int, required=True)
    ap.add_argument("--base-heights", type=int, default=None,
                    help="heights below this are the pre-built prefix (listen)")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    gen = Gen(a.seed, a.heights)
    blocks = gen.generate()
    os.makedirs(a.out, exist_ok=True)
    with open(os.path.join(a.out, "blocks.jsonl"), "w") as f:
        for b in blocks:
            f.write(json.dumps({"header": header_json(b), "payload": payload_json(b)},
                               separators=(",", ":")) + "\n")
    base_h = a.base_heights if a.base_heights is not None else a.heights
    truth = {
        "seed": a.seed, "chains": CHAINS, "heights": a.heights,
        "base_heights": base_h,
        "counts": flat_rows(blocks)[0],
        # row counts after ingesting every height below h, for h >= base
        "prefix_counts": {str(h): flat_rows([b for b in blocks if b["height"] < h])[0]
                          for h in range(base_h, a.heights + 1)},
        "sessions": sessions(blocks, random.Random(a.seed * 7919 + 1)),
    }
    with open(os.path.join(a.out, "truth.json"), "w") as f:
        json.dump(truth, f, separators=(",", ":"))


if __name__ == "__main__":
    main()

"""Seeded input generators with ground truth.

Everything here is plain Python + pyarrow: the engine only ever sees
the parquet files these functions write, never the generator's state.
The same seed always yields the same files and the same truth tables.

- ``OpLogGenerator``: a flat Hive op log in the ``raw_ops`` shape that
  ``ingest.posts.build_posts`` and ``streaming.stream.ops_file_stream``
  read (FIXTURES.md), with its LWW / tombstone / profile truth.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OPS_SCHEMA = pa.schema(
    [
        ("block_height", pa.int64()),
        ("block_timestamp", pa.timestamp("us", tz="UTC")),
        ("tx_idx", pa.int32()),
        ("trx_id", pa.string()),
        ("op_idx", pa.int32()),
        ("op_type", pa.string()),
        ("author", pa.string()),
        ("permlink", pa.string()),
        ("parent_author", pa.string()),
        ("parent_permlink", pa.string()),
        ("title", pa.string()),
        ("body", pa.string()),
        ("json_metadata", pa.string()),
        ("custom_json_id", pa.string()),
        ("custom_json", pa.string()),
        ("required_posting_auths", pa.list_(pa.string())),
        ("voter", pa.string()),
        ("posting_json_metadata", pa.string()),
        ("account", pa.string()),
        ("extensions", pa.string()),
    ]
)
OPS_DDL = (
    "block_height long, block_timestamp timestamp, tx_idx int, "
    "trx_id string, op_idx int, op_type string, author string, "
    "permlink string, parent_author string, parent_permlink string, "
    "title string, body string, json_metadata string, "
    "custom_json_id string, custom_json string, "
    "required_posting_auths array<string>, voter string, "
    "posting_json_metadata string, account string, extensions string"
)

BASE_TS = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
BLOCK_S = 3  # Hive block interval

# Input properties. Each names its source: "soak" is the op-log
# derivation in tests/test_round10.py::_soak_ops (sf0.1 events: 100k
# comment ops over 30k post keys, follow ops beside them); "fixtures" is
# FIXTURES.md's raw_ops generator requirements; "assumed" is this
# benchmark's choice, listed as such in DESIGN.md.
OPLOG_PROPS = {
    "accounts": 500,  # soak: authors u{pk % 500}
    # soak: 100k comment ops / 30k keys; an edit targets a key uniformly
    # (pk = eid % 30000), as votes do (assumed)
    "versions_per_post_key": 3.3,
    # soak: a follow op when eid % 5 == 0, of three families in equal
    # shares (eid % 3): follow, spk.follow/unfollow, community
    "follow_ops_per_comment_op": 0.2,
    "unfollow_share": 0.1,  # soak: eid % 10 == 0 (== 5 for community)
    "spk_dids": 200,  # soak: did:key:z{uid % 200}
    "communities": 8,  # soak: hive-{uid % 8}
    # soak's four apps in equal shares, plus fixtures (d)'s steemit/0.1
    "apps": ["3speak/1.0", "dbuzz/2", "other/1", "3speak/2.0", "steemit/0.1"],
    "tags": 50,  # fixtures: a vocabulary of ~50 tags with Zipf skew
    "span_days": 40,  # fixtures: created_at spans > 30 days
    "max_reply_depth": 3,  # fixtures (b): a reply chain >= 3 deep
    "zipf_tags": 1.0,  # assumed exponent (fixtures give none)
    "zipf_communities": 1.0,  # fixtures: one hot community; exponent assumed
    "zipf_authors": 1.0,  # assumed: skew asked for; soak's authors are uniform
    "zipf_words": 1.0,  # assumed
    # assumed shares of all ops for the families soak does not derive
    "other_shares": {"vote": 0.12, "account_update2": 0.05, "community_updateProps": 0.02},
    "reply_share_of_new_posts": 0.35,  # assumed
    "comment_options_share_of_new_posts": 0.25,  # assumed (beneficiaries)
    "publish_share_of_3speak_posts": 0.5,  # assumed (3speak-publish sibling)
    "threespeak_signed_share": 0.5,  # assumed ('threespeak' among the auths)
    "deleted_share_of_edits": 0.05,  # assumed; fixtures (c) asks for 'deleted'
    "new_block_share": 0.7,  # assumed; the rest share a block as tx_idx + 1
}
APPS = OPLOG_PROPS["apps"]
COMMUNITIES = [f"hive-{1000 + i}" for i in range(OPLOG_PROPS["communities"])]


def op_mix(votes: bool) -> dict[str, float]:
    """Share of each op family among the generated ops: the assumed
    shares, then the rest split between comment ops and follow ops at
    soak's 5:1, and the comment ops between new posts and edits at
    soak's 3.3 versions per key."""
    p = OPLOG_PROPS
    other = dict(p["other_shares"])
    if not votes:
        other["vote"] = 0.0
    rest = 1.0 - sum(other.values())
    comment = rest / (1 + p["follow_ops_per_comment_op"])
    new = comment / p["versions_per_post_key"]
    return {"new_post": new, "edit": comment - new,
            "follow_family": rest - comment, **other}


def zipf_p(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def draw(rng: np.random.Generator, cdf: np.ndarray, size=None):
    """Index draw from a discrete distribution given its CDF (much
    cheaper per call than ``rng.choice(p=...)``)."""
    return np.minimum(np.searchsorted(cdf, rng.random(size), side="right"), len(cdf) - 1)


def _vocab(n: int, prefix: str) -> list[str]:
    # pronounceable, distinct, [a-z]-only words
    cons, vow = "bcdfghklmnprstvz", "aeiou"
    out = []
    i = 0
    while len(out) < n:
        a, b, c = i % 16, (i // 16) % 5, (i // 80) % 16
        out.append(f"{prefix}{cons[a]}{vow[b]}{cons[c]}{vow[(i // 1280) % 5]}")
        i += 1
    return out


class OpLog:
    """A generated op log: ``rows`` (column -> list) plus its truth."""

    def __init__(self) -> None:
        self.rows: dict[str, list] = {f.name: [] for f in OPS_SCHEMA}
        self.posts: dict[tuple[str, str], tuple[int, int, int]] = {}
        self.deleted: dict[tuple[str, str], bool] = {}
        self.edges: dict[str, tuple[tuple[int, int, int], bool]] = {}
        self.profiles: dict[str, tuple[tuple[int, int, int], str]] = {}
        self.community_titles: dict[str, tuple[tuple[int, int, int], str]] = {}
        self.newest_post: tuple[str, str] | None = None
        self.last_edit: tuple[str, str] | None = None

    def __len__(self) -> int:
        return len(self.rows["op_type"])

    def add(self, **cols) -> None:
        for name in self.rows:
            self.rows[name].append(cols.get(name))

    def table(self, lo: int = 0, hi: int | None = None) -> pa.Table:
        return pa.table(
            {k: v[lo:hi] for k, v in self.rows.items()}, schema=OPS_SCHEMA
        )

    def truth(self) -> dict:
        return {
            "post_winners": dict(self.posts),
            "deleted_posts": {k for k, d in self.deleted.items() if d},
            "live_edges": {k for k, (_, dead) in self.edges.items() if not dead},
            "profile_names": {a: n for a, (_, n) in self.profiles.items()},
            "community_titles": {
                a: t for a, (_, t) in self.community_titles.items()
            },
        }


class OpLogGenerator:
    """Appends seeded op batches to one ``OpLog``; successive calls
    continue the same chain (heights, keys, accounts).

    ``replies``/``votes`` select the op families. The streaming fold
    documents that reply-chain allowlisting and vote counts are exact
    only in a full rebuild (streaming/stream.py), so the tip-follow
    workload generates the families its identity check covers.
    ``span_ops`` is the log length over which created_at spans
    ``span_days``."""

    def __init__(self, seed: int, n_accounts: int, *, replies: bool, votes: bool,
                 span_ops: int):
        p = OPLOG_PROPS
        self.rng = np.random.default_rng(seed)
        self.log = OpLog()
        self.replies = replies
        self.accounts = [f"u{i}" for i in range(n_accounts)]
        # seeded permutation: which account is "heavy" varies per seed
        self.acct_cdf = np.cumsum(
            zipf_p(n_accounts, p["zipf_authors"])[self.rng.permutation(n_accounts)]
        )
        self.comm_cdf = np.cumsum(zipf_p(len(COMMUNITIES), p["zipf_communities"]))
        self.tags = _vocab(p["tags"], "t")
        self.tag_cdf = np.cumsum(zipf_p(len(self.tags), p["zipf_tags"]))
        self.words = _vocab(600, "")
        self.word_cdf = np.cumsum(zipf_p(len(self.words), p["zipf_words"]))
        blocks_per_op = p["span_days"] * 86_400 / BLOCK_S / span_ops
        self.max_gap = max(1, int(2 * blocks_per_op / p["new_block_share"]))
        self.keys: list[tuple[str, str]] = []
        # key -> (parent key or None, parent_permlink), fixed at creation
        self.parent_of: dict[tuple[str, str], tuple] = {}
        self.depth: dict[tuple[str, str], int] = {}
        self.parents: list[tuple[str, str]] = []  # keys a reply may target
        self.height = 1_000_000
        self.tx = 0
        mix = op_mix(votes)
        self.kinds = list(mix)
        self.kind_cdf = np.cumsum([mix[k] for k in self.kinds])

    # -- helpers --------------------------------------------------------
    def _acct(self) -> str:
        return self.accounts[draw(self.rng, self.acct_cdf)]

    def _community(self) -> str:
        return COMMUNITIES[draw(self.rng, self.comm_cdf)]

    def _next_slot(self) -> tuple[int, int]:
        if self.rng.random() < OPLOG_PROPS["new_block_share"]:
            self.height += 1 + int(self.rng.integers(0, self.max_gap))
            self.tx = 0
        else:
            self.tx += 1
        return self.height, self.tx

    def _body(self) -> str:
        n = int(self.rng.integers(12, 40))
        idx = draw(self.rng, self.word_cdf, n)
        return " ".join(self.words[i] for i in idx)

    def _base(self, op_type: str) -> dict:
        h, tx = self._next_slot()
        return dict(
            block_height=h,
            block_timestamp=BASE_TS + dt.timedelta(seconds=BLOCK_S * (h - 1_000_000)),
            tx_idx=tx,
            op_idx=0,
            trx_id=f"x{h}_{tx}",
            op_type=op_type,
        )

    def _comment(self, key, parent, parent_permlink, *, deleted: bool = False) -> dict:
        op = self._base("comment")
        n_tags = int(self.rng.integers(1, 4))
        tags = sorted({self.tags[i] for i in draw(self.rng, self.tag_cdf, n_tags)})
        app = APPS[int(self.rng.integers(0, len(APPS)))]
        meta = {"app": app, "tags": tags}
        if deleted:
            meta["flags"] = ["deleted"]
        self.log.add(
            **op,
            author=key[0],
            permlink=key[1],
            parent_author=parent[0] if parent else "",
            parent_permlink=parent[1] if parent else parent_permlink,
            title=f"title {key[1]} at {op['block_height']}",
            body=self._body(),
            json_metadata=json.dumps(meta),
        )
        self.log.posts[key] = (op["block_height"], op["tx_idx"], 0)
        self.log.deleted[key] = deleted
        if not parent:
            self.log.newest_post = key
        return {**op, "app": app}

    def _siblings(self, op: dict, key) -> None:
        """comment_options (beneficiaries) and 3speak-publish ops in the
        new post's transaction, which build_posts joins on
        (block_height, tx_idx)."""
        p = OPLOG_PROPS
        slot = {k: op[k] for k in ("block_height", "block_timestamp", "tx_idx", "trx_id")}
        op_idx = 0
        if self.rng.random() < p["comment_options_share_of_new_posts"]:
            op_idx += 1
            benef = [{"account": self._acct(), "weight": 100 * int(self.rng.integers(1, 50))}]
            ext = [["comment_payout_beneficiaries", {"beneficiaries": benef}]]
            self.log.add(**slot, op_idx=op_idx, op_type="comment_options",
                         author=key[0], permlink=key[1], extensions=json.dumps(ext))
        if op["app"].startswith("3speak") and self.rng.random() < p["publish_share_of_3speak_posts"]:
            op_idx += 1
            signed = self.rng.random() < p["threespeak_signed_share"]
            self.log.add(**slot, op_idx=op_idx, op_type="custom_json",
                         custom_json_id="3speak-publish",
                         custom_json=json.dumps({"author": key[0], "permlink": key[1]}),
                         required_posting_auths=["threespeak"] if signed else [key[0]])

    # -- op families ----------------------------------------------------
    def new_post(self) -> None:
        author = self._acct()
        k = len(self.keys)
        if self.replies and self.parents and self.rng.random() < OPLOG_PROPS["reply_share_of_new_posts"]:
            parent = self.parents[int(self.rng.integers(0, len(self.parents)))]
            key = (author, f"re-{k}")
            self.parent_of[key] = (parent, parent[1])
            self.depth[key] = self.depth[parent] + 1
        else:
            key = (author, f"p{k}")
            pp = self._community() if self.rng.random() < 0.3 else "blog"
            self.parent_of[key] = (None, pp)
            self.depth[key] = 0
        op = self._comment(key, *self.parent_of[key])
        self._siblings(op, key)
        self.keys.append(key)
        if self.depth[key] < OPLOG_PROPS["max_reply_depth"]:
            self.parents.append(key)

    def edit(self) -> None:
        if not self.keys:
            return self.new_post()
        key = self.keys[int(self.rng.integers(0, len(self.keys)))]
        deleted = self.rng.random() < OPLOG_PROPS["deleted_share_of_edits"]
        self._comment(key, *self.parent_of[key], deleted=deleted)
        self.log.last_edit = key

    def vote(self) -> None:
        if not self.keys:
            return self.new_post()
        key = self.keys[int(self.rng.integers(0, len(self.keys)))]
        self.log.add(
            **self._base("vote"), author=key[0], permlink=key[1], voter=self._acct()
        )

    def follow_family(self) -> None:
        op = self._base("custom_json")
        order = (op["block_height"], op["tx_idx"], 0)
        me = self._acct()
        fam = int(self.rng.integers(0, 3))
        dead = self.rng.random() < OPLOG_PROPS["unfollow_share"]
        if fam == 0:
            other = self._acct()
            cj = {"follower": me, "following": other, "what": [] if dead else ["blog"]}
            cid, key = "follow", f"hive-{me}-{other}"
        elif fam == 1:
            did = f"did:key:z{int(self.rng.integers(0, OPLOG_PROPS['spk_dids']))}"
            cj = {"did": did}
            cid, key = ("spk.unfollow" if dead else "spk.follow"), f"hive/{me}/{did}"
        else:
            comm = self._community()
            cj = {"action": "unsubscribe" if dead else "subscribe", "community": comm}
            cid, key = "community", f"hive-{me}-{comm}"
        self.log.add(
            **op,
            custom_json_id=cid,
            custom_json=json.dumps(cj),
            required_posting_auths=[me],
        )
        prev = self.log.edges.get(key)
        if prev is None or prev[0] < order:
            self.log.edges[key] = (order, dead)

    def account_update2(self) -> None:
        op = self._base("account_update2")
        order = (op["block_height"], op["tx_idx"], 0)
        # assumed: 15 % of updates come from hive-* community accounts
        acct = self._community() if self.rng.random() < 0.15 else self._acct()
        name = f"name {acct} {op['block_height']}"
        pm = {
            "profile": {
                "name": name,
                "about": f"about {acct}",
                "profile_image": f"https://img/{acct}.png",
                "topcs": ["video"],
            }
        }
        self.log.add(**op, account=acct, posting_json_metadata=json.dumps(pm))
        if not acct.startswith("hive-"):
            self.log.profiles[acct] = (order, name)

    def community_updateProps(self) -> None:
        op = self._base("custom_json")
        order = (op["block_height"], op["tx_idx"], 0)
        comm = self._community()
        title = f"Community {comm} rev {op['block_height']}"
        cj = {"action": "updateProps", "title": title, "about": f"about {comm}"}
        self.log.add(
            **op,
            custom_json_id="community",
            custom_json=json.dumps(cj),
            required_posting_auths=[comm],
        )
        self.log.community_titles[comm] = (order, title)

    def extend(self, n_ops: int) -> tuple[int, int]:
        """Append at least ``n_ops`` ops (a new post's transaction is
        never split); returns the (lo, hi) row range added."""
        lo = len(self.log)
        while len(self.log) - lo < n_ops:
            kind = self.kinds[draw(self.rng, self.kind_cdf)]
            getattr(self, kind)()
        return lo, len(self.log)


def write_ops(table: pa.Table, path: str, *, n_files: int, seed: int) -> None:
    """Write rows shuffled across ``n_files`` files: arrival order is
    unrelated to block order, so LWW must come from the order key."""
    os.makedirs(path, exist_ok=True)
    perm = np.random.default_rng(seed).permutation(table.num_rows)
    table = table.take(pa.array(perm))
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, f"{path}/part-{i:03d}.parquet")

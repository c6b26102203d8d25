"""Seeded WordPress-shaped inputs for the export benchmark.

Every table the exporter reads is generated here from one seed and written
as parquet with the column names and types of `graft.sources.WpSchemas`.
The seed varies the properties the export's cost depends on:

- `post_content` length is heavy-tailed (lognormal, median about 1 KB);
- posts per author are skewed (Zipf over a seeded author order);
- each post has 1-4 categories, plus 0-2 tags the exporter filters out;
- a seeded share of published posts has a thumbnail.

Row counts are fixed by the workload, so run-to-run timing differences come
from content, not from size. `Site` also derives the entries the exporter is
expected to write, for the output checks in `checks.py`.
"""

import datetime
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

SITE = "https://blog.example.com"
PERMALINK = "/%year%/%monthnum%/%day%/%postname%/"
TT_BASE = 1_000_000
EPOCH = datetime.datetime(2019, 1, 1, tzinfo=datetime.timezone.utc)

# Vocabulary for post bodies: plain words plus the characters JSON output
# has to escape or encode (quotes, backslashes, newlines, non-ASCII).
_WORDS = ("the a export post site content draft review media theme plugin "
          "<p> </p> <em>quoted</em> \"said\" it's café naïve — path\\to "
          "\n \t 2024 ✓ Ünïcödé data lake shard merge entry").split(" ")


def _blob(rng, size):
    out, n = [], 0
    while n < size:
        w = rng.choice(_WORDS)
        out.append(w)
        n += len(w) + 1
    return " ".join(out)[:size]


def slugify(s):
    """StringFns.slugify: lowercase, runs of [^a-z0-9_-] become '-'."""
    out, prev_dash = [], False
    for ch in s.lower():
        ok = ("a" <= ch <= "z") or ("0" <= ch <= "9") or ch in "_-"
        if ok:
            out.append(ch)
            prev_dash = False
        elif not prev_dash:
            out.append("-")
            prev_dash = True
    return "".join(out)


def asset_payload_size(asset_id):
    """Bytes the benchmark's stub fetcher returns for an attachment."""
    return 256 * (1 + asset_id % 7)


class Site:
    """One generated WordPress site (tables as column lists)."""

    def __init__(self, seed, n_posts, n_attach, n_users, n_terms,
                 fail_share=0.01, draft_share=0.03, tag_share=0.10,
                 authorless_share=0.01):
        rng = random.Random(seed)
        self.seed = seed
        self.n_posts, self.n_attach = n_posts, n_attach
        self.blob = _blob(rng, 1 << 16)
        self.thumb_share = rng.uniform(0.25, 0.35)

        # users + usermeta (a seeded 5% lack a description)
        self.users = {"ID": [], "user_login": [], "user_email": []}
        self.usermeta = {"user_id": [], "meta_key": [], "meta_value": []}
        self.author_meta = {}
        for uid in range(1, n_users + 1):
            login = f"Author.{uid:05d}"
            self.users["ID"].append(uid)
            self.users["user_login"].append(login)
            self.users["user_email"].append(f"author{uid}@example.com")
            meta = {"first_name": f"First{uid}", "last_name": f"Last{uid}",
                    "nickname": f"nick{uid}"}
            if rng.random() >= 0.05:
                meta["description"] = f"Writes about topic {uid % 17} & more."
            self.author_meta[uid] = meta
            for k, v in meta.items():
                self.usermeta["user_id"].append(uid)
                self.usermeta["meta_key"].append(k)
                self.usermeta["meta_value"].append(v)

        # terms + term_taxonomy: a fixed share are tags, some categories nest
        tag_ids = set(rng.sample(range(1, n_terms + 1), round(n_terms * tag_share)))
        self.category_ids = [t for t in range(1, n_terms + 1) if t not in tag_ids]
        self.tag_ids = sorted(tag_ids)
        self.terms = {"term_id": [], "name": [], "slug": []}
        self.tt = {"term_taxonomy_id": [], "term_id": [], "taxonomy": [],
                   "description": [], "parent": []}
        self.parent = {}
        for t in range(1, n_terms + 1):
            is_cat = t not in tag_ids
            self.terms["term_id"].append(t)
            self.terms["name"].append(f"Topic &amp; {t}" if is_cat else f"tag {t}")
            self.terms["slug"].append(f"topic-{t}" if is_cat else f"tag-{t}")
            parent = 0
            if is_cat and t > 1 and rng.random() < 0.2:
                parent = rng.choice(self.category_ids[:self.category_ids.index(t)] or [0])
            self.parent[t] = parent
            self.tt["term_taxonomy_id"].append(TT_BASE + t)
            self.tt["term_id"].append(t)
            self.tt["taxonomy"].append("category" if is_cat else "post_tag")
            self.tt["description"].append(f"About &amp; topic {t}")
            self.tt["parent"].append(parent)

        # author skew: Zipf(1.1) over a seeded permutation of the users
        order = list(range(1, n_users + 1))
        rng.shuffle(order)
        cum, acc = [], 0.0
        for rank in range(1, n_users + 1):
            acc += 1.0 / rank ** 1.1
            cum.append(acc)
        self.zipf_order, self.zipf_cum = order, cum

        draft = set(rng.sample(range(1, n_posts + 1), round(n_posts * draft_share)))
        authorless = set(rng.sample(range(1, n_posts + 1),
                                    round(n_posts * authorless_share)))
        self.posts = {c: [] for c in ("ID", "post_author", "post_title",
                                      "post_name", "post_status", "post_type",
                                      "post_content", "post_date",
                                      "post_date_gmt", "guid")}
        self.rel = {"object_id": [], "term_taxonomy_id": []}
        self.postmeta = {"post_id": [], "meta_key": [], "meta_value": []}
        self.post_rows = {}
        self.post_cats = {}
        self.thumb = {}
        first_asset = n_posts + 1
        for pid in range(1, n_posts + 1):
            author = 0 if pid in authorless else rng.choices(order, cum_weights=cum)[0]
            self._add_post(rng, pid, author, "draft" if pid in draft else "publish")
            if pid not in draft and rng.random() < self.thumb_share:
                self.thumb[pid] = rng.randrange(first_asset, first_asset + n_attach)
            if rng.random() < 0.5:  # unrelated postmeta noise
                self.postmeta["post_id"].append(pid)
                self.postmeta["meta_key"].append("_edit_lock")
                self.postmeta["meta_value"].append(f"{pid}:1")
        for pid, aid in self.thumb.items():
            self.postmeta["post_id"].append(pid)
            self.postmeta["meta_key"].append("_thumbnail_id")
            self.postmeta["meta_value"].append(str(aid))

        # attachments: a seeded 5% have names that need URI encoding
        self.asset_urls = {}
        for aid in range(first_asset, first_asset + n_attach):
            ym = f"{2019 + aid % 4}/{1 + aid % 12:02d}"
            name = f"my photo-{aid}.png" if rng.random() < 0.05 else f"img-{aid}.png"
            guid = f"{SITE}/wp-content/uploads/{ym}/{name}"
            self.asset_urls[aid] = guid
            self._append_post_row(aid, 1, f"img{aid}", f"img{aid}", "inherit",
                                  "attachment", "", EPOCH, guid)
        self.failing = set(rng.sample(sorted(self.asset_urls),
                                      round(n_attach * fail_share)))
        self.options = {"option_name": ["permalink_structure", "siteurl", "blogname"],
                        "option_value": [PERMALINK, SITE, "Example Blog"]}
        self._rng = rng

    # -- rows -------------------------------------------------------------

    def _content(self, rng):
        n = max(20, min(30000, int(rng.lognormvariate(math.log(1000), 1.0))))
        if n >= len(self.blob):
            return (self.blob * (n // len(self.blob) + 1))[:n]
        off = rng.randrange(0, len(self.blob) - n)
        return self.blob[off:off + n]

    def _append_post_row(self, pid, author, title, name, status, ptype,
                         content, gmt, guid):
        p = self.posts
        p["ID"].append(pid)
        p["post_author"].append(author)
        p["post_title"].append(title)
        p["post_name"].append(name)
        p["post_status"].append(status)
        p["post_type"].append(ptype)
        p["post_content"].append(content)
        p["post_date"].append(gmt + datetime.timedelta(hours=2))
        p["post_date_gmt"].append(gmt)
        p["guid"].append(guid)
        self.post_rows[pid] = len(p["ID"]) - 1

    def _add_post(self, rng, pid, author, status):
        gmt = EPOCH + datetime.timedelta(seconds=rng.randrange(0, 4 * 365 * 86400))
        self._append_post_row(pid, author, f"Post {pid} &amp; notes",
                              f"post-{pid}", status, "post", self._content(rng),
                              gmt, f"{SITE}/?p={pid}")
        cats = rng.sample(self.category_ids, rng.randint(1, 4))
        tags = rng.sample(self.tag_ids, rng.randint(0, 2)) if self.tag_ids else []
        for t in cats + tags:
            self.rel["object_id"].append(pid)
            self.rel["term_taxonomy_id"].append(TT_BASE + t)
        self.post_cats[pid] = cats

    def revise(self, edit_share=0.05, add_share=0.01):
        """Second version of the site: edit a seeded share of published
        posts (new title and content), add new published posts, and let
        every previously failing asset URL succeed. Returns (edited, added)."""
        rng = self._rng
        published = [pid for pid in range(1, self.n_posts + 1)
                     if self.posts["post_status"][self.post_rows[pid]] == "publish"]
        edited = sorted(rng.sample(published, round(self.n_posts * edit_share)))
        for pid in edited:
            i = self.post_rows[pid]
            self.posts["post_title"][i] = f"Post {pid} revised {self.seed}"
            self.posts["post_content"][i] = self._content(rng)
        start = self.n_posts + self.n_attach + 1
        added = list(range(start, start + round(self.n_posts * add_share)))
        order, cum = self.zipf_order, self.zipf_cum
        for pid in added:
            self._add_post(rng, pid, rng.choices(order, cum_weights=cum)[0], "publish")
        self.failing = set()
        return edited, added

    # -- output -----------------------------------------------------------

    def write_parquet(self, out_dir):
        os.makedirs(out_dir, exist_ok=True)
        i64, s = pa.int64(), pa.string()
        ts = pa.timestamp("us", tz="UTC")
        schemas = {
            "users": (self.users, [("ID", i64), ("user_login", s), ("user_email", s)]),
            "usermeta": (self.usermeta, [("user_id", i64), ("meta_key", s),
                                         ("meta_value", s)]),
            "terms": (self.terms, [("term_id", i64), ("name", s), ("slug", s)]),
            "term_taxonomy": (self.tt, [("term_taxonomy_id", i64), ("term_id", i64),
                                        ("taxonomy", s), ("description", s),
                                        ("parent", i64)]),
            "term_relationships": (self.rel, [("object_id", i64),
                                              ("term_taxonomy_id", i64)]),
            "posts": (self.posts, [("ID", i64), ("post_author", i64),
                                   ("post_title", s), ("post_name", s),
                                   ("post_status", s), ("post_type", s),
                                   ("post_content", s), ("post_date", ts),
                                   ("post_date_gmt", ts), ("guid", s)]),
            "postmeta": (self.postmeta, [("post_id", i64), ("meta_key", s),
                                         ("meta_value", s)]),
            "options": (self.options, [("option_name", s), ("option_value", s)]),
        }
        rows = {}
        for name, (cols, fields) in schemas.items():
            table = pa.table({c: pa.array(cols[c], type=t) for c, t in fields})
            pq.write_table(table, f"{out_dir}/wp_{name}.parquet")
            rows[name] = table.num_rows
        return rows

    # -- expected entries -------------------------------------------------

    def published(self):
        return [pid for pid, i in self.post_rows.items()
                if self.posts["post_type"][i] == "post"
                and self.posts["post_status"][i] == "publish"]

    def expected_author(self, uid):
        login = self.users["user_login"][uid - 1]
        meta = self.author_meta[uid]
        return {"ID": uid, "title": login, "url": "/author/" + slugify(login),
                "email": self.users["user_email"][uid - 1],
                "first_name": meta.get("first_name", ""),
                "last_name": meta.get("last_name", ""),
                "biographical_info": meta.get("description", "")}

    def expected_category(self, t):
        parent = self.parent[t]
        return {"id": t, "title": f"Topic & {t}", "url": f"/category/topic-{t}",
                "description": f"About & topic {t}",
                "parent": [f"topic-{parent}"] if parent else [""]}

    def expected_post(self, pid):
        i = self.post_rows[pid]
        p = self.posts
        gmt = p["post_date_gmt"][i]
        author = p["post_author"][i]
        url = (PERMALINK.replace("%year%", f"{gmt.year:04d}")
               .replace("%monthnum%", f"{gmt.month:02d}")
               .replace("%day%", f"{gmt.day:02d}")
               .replace("%postname%", p["post_name"][i]))
        return {"title": p["post_title"][i], "url": url,
                "author": [self.users["user_login"][author - 1]] if author else [],
                "date": gmt.strftime("%Y-%m-%dT%H:%M:%SZ"),
                "guid": p["guid"][i][len(SITE):],
                "full_description": p["post_content"][i],
                "category": sorted(f"topic-{t}" for t in self.post_cats[pid]),
                "featured_image": str(self.thumb[pid]) if pid in self.thumb else ""}

"""Output checks of the export benchmark. Each check reads an export's output
directory and returns a list of problems (empty when the output is right).
"""

import glob
import json
import os
import random

from gen import asset_payload_size

ENTRY_MODULES = ("authors", "categories", "posts")


def _single(path):
    """uid -> minified entry text of a single-file keyed-JSON state."""
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as f:
        obj = json.load(f)
    return {k: json.dumps(v, ensure_ascii=False, separators=(",", ":"))
            for k, v in obj.items()}


def _sharded(d):
    """uid -> entry text of a sharded keyed-JSON state, as written."""
    if not os.path.isdir(d):
        return None
    out = {}
    for part in glob.glob(os.path.join(d, "part-*")):
        with open(part, encoding="utf-8") as f:
            for line in f:
                uid, _, text = line.rstrip("\n").partition("\t")
                out[uid] = text
    return out


def _files(paths_or_dir):
    if os.path.isdir(paths_or_dir):
        return glob.glob(os.path.join(paths_or_dir, "part-*"))
    return [paths_or_dir] if os.path.exists(paths_or_dir) else []


class State:
    """The entry sets an export leaves, and how many of their rows sit in
    files written at or after `since` (epoch ms)."""

    def __init__(self, out, since=None):
        self.out = out
        self.entries = {}
        self.written = 0
        for m in ENTRY_MODULES + ("assets",):
            single = (f"{out}/assets/assets.json" if m == "assets"
                      else f"{out}/entries/{m}/en-us.json")
            sharded = (f"{out}/assets/sharded" if m == "assets"
                       else f"{out}/entries/{m}/sharded")
            state = _sharded(sharded)
            src = sharded
            if state is None:
                state, src = _single(single), single
            self.entries[m] = state or {}
            if since is not None and any(os.path.getmtime(f) * 1000 >= since
                                         for f in _files(src)):
                self.written += len(self.entries[m])
        self.failed = _single(f"{out}/master/wp_failed.json")

    def entries_flat(self):
        return {f"{m}/{uid}": text for m, state in self.entries.items()
                for uid, text in state.items()}

    def get(self, module, uid):
        text = self.entries[module].get(str(uid))
        return None if text is None else json.loads(text)


def out_bytes(out):
    total = 0
    for root, _, files in os.walk(out):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _sample(seq, k, seed):
    seq = sorted(seq)
    return random.Random(seed).sample(seq, min(k, len(seq)))


def _compare(problems, what, got, want):
    if got != want:
        problems.append(f"{what}: got {str(got)[:200]} want {str(want)[:200]}")


def check_fresh(site, state, fetched_ids):
    """Counts, dead-letter manifest, asset files and a seeded entry sample."""
    p = []
    published = site.published()
    ok_assets = [a for a in site.asset_urls if a not in site.failing]
    _compare(p, "authors count", len(state.entries["authors"]), len(site.users["ID"]))
    _compare(p, "categories count", len(state.entries["categories"]),
             len(site.category_ids))
    _compare(p, "posts count", len(state.entries["posts"]), len(published))
    _compare(p, "assets count", len(state.entries["assets"]), len(ok_assets))
    _compare(p, "dead-letter ids", sorted(state.failed or {}),
             sorted(str(a) for a in site.failing))
    _compare(p, "fetched ids", fetched_ids, sorted(site.asset_urls))
    for aid in ok_assets:
        files = os.listdir(f"{state.out}/assets/{aid}") \
            if os.path.isdir(f"{state.out}/assets/{aid}") else []
        sizes = [os.path.getsize(f"{state.out}/assets/{aid}/{f}") for f in files]
        if sizes != [asset_payload_size(aid)]:
            p.append(f"asset {aid}: files {files} sizes {sizes}")
            break
    for pid in _sample(published, 60, site.seed + 1):
        _compare(p, f"post {pid}", state.get("posts", pid), site.expected_post(pid))
    for uid in _sample(site.users["ID"], 20, site.seed + 2):
        login = site.users["user_login"][uid - 1]
        _compare(p, f"author {uid}", state.get("authors", login),
                 site.expected_author(uid))
    for t in _sample(site.category_ids, 20, site.seed + 3):
        _compare(p, f"category {t}", state.get("categories", f"topic-{t}"),
                 site.expected_category(t))
    for aid in _sample(ok_assets, 20, site.seed + 4):
        got = state.get("assets", aid)
        _compare(p, f"asset entry {aid}", got and got["filename"],
                 site.asset_urls[aid].rsplit("/", 1)[1])
    return p


def check_rerun(site, base, state, fetched_ids, edited, added, prior_failing):
    """Edits and additions land, everything else is unchanged, the
    dead-letter manifest is healed and no existing asset is fetched."""
    p = []
    _compare(p, "posts count", len(state.entries["posts"]), len(site.published()))
    for pid in edited + added:
        _compare(p, f"post {pid}", state.get("posts", pid), site.expected_post(pid))
    touched = {str(pid) for pid in edited}
    for m in ENTRY_MODULES + ("assets",):
        for uid, text in base.entries[m].items():
            if m == "posts" and uid in touched:
                continue
            if state.entries[m].get(uid) != text:
                p.append(f"{m} {uid}: unedited entry changed")
                break
    _compare(p, "dead-letter", state.failed, {})
    _compare(p, "fetched ids", fetched_ids, sorted(prior_failing))
    _compare(p, "assets count", len(state.entries["assets"]), len(site.asset_urls))
    return p


def check_same(state, ref):
    """Every entry set equals the reference export's."""
    p = []
    for m in ENTRY_MODULES + ("assets",):
        got = {k: json.loads(v) for k, v in state.entries[m].items()}
        want = {k: json.loads(v) for k, v in ref.entries[m].items()}
        if got != want:
            diff = sorted(set(got) ^ set(want)) or \
                sorted(k for k in got if got[k] != want.get(k))
            p.append(f"{m}: {len(got)} vs {len(want)} entries, first diff {diff[:3]}")
    _compare(p, "dead-letter", state.failed, ref.failed)
    return p

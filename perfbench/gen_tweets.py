"""Seeded Twitter API v2 JSONL pages for the ``warehouse_build`` workload,
with the expected warehouse results computed in plain Python.

Shape of the corpus:

- conversations whose sizes follow a Pareto tail, so a few viral
  threads hold most of the replies; a reply attaches to the thread
  root or to an earlier reply, which keeps reply trees shallow and
  bushy;
- about ``QUOTE_SHARE`` of thread roots quote or retweet a tweet of an
  earlier conversation, which chains conversations into multi-hop
  ur-conversations;
- ``data[]`` pages of ``PAGE_SIZE`` tweets; ``includes.tweets`` repeats
  the referenced tweets (identical copies, so dedup has work to do),
  ``includes.users`` carries each page's authors;
- a few pages report ``errors[]`` for missing tweets, and a few lines
  are corrupt JSON.

The same seed gives byte-identical pages.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np

PAGE_SIZE = 500  # tweets per data[] page, the reference crawler's page size
QUOTE_SHARE = 0.15
PARETO_SHAPE = 1.3
MAX_THREAD = 2000
ERROR_PAGE_SHARE = 0.3
CORRUPT_LINES = 3
N_DAYS = 28
TWEET_ID_BASE = 1_000_000
USER_ID_BASE = 10_000


@dataclass
class Truth:
    """Expected warehouse contents for one generated corpus."""

    n_tweets: int = 0  # distinct tweets after dedup
    n_tweet_rows: int = 0  # data[] + includes.tweets[] rows before dedup
    n_users: int = 0
    n_errors: int = 0
    # ur-root tweet id -> (n_tweets, total_likes, n_descendants, max_depth)
    roots: dict[int, tuple[int, int, int, int]] = field(default_factory=dict)


def _thread_sizes(rng: np.random.Generator, n_tweets: int) -> list[int]:
    sizes: list[int] = []
    total = 0
    while total < n_tweets:
        s = min(MAX_THREAD, 1 + int(rng.pareto(PARETO_SHAPE)), n_tweets - total)
        sizes.append(s)
        total += s
    return sizes


def _tweet(tid, conv, author, day, likes, refs, reply_user, tags, mentions, url):
    text = f"tweet {tid} about #{tags[0]}" if tags else f"tweet {tid}"
    entities: dict = {}
    if tags:
        entities["hashtags"] = [{"tag": t} for t in tags]
    if mentions:
        entities["mentions"] = [{"username": f"u{m}", "id": str(m)} for m in mentions]
    if url:
        short = f"https://t.co/{tid:x}"
        text += f" {short}"
        entities["urls"] = [
            {"url": short, "expanded_url": f"https://example.org/{tid}"}
        ]
    t = {
        "id": str(tid),
        "conversation_id": str(conv),
        "author_id": str(author),
        "created_at": f"2024-03-{day + 1:02d}T{tid % 24:02d}:00:00.000Z",
        "text": text,
        "lang": "en",
        "public_metrics": {
            "retweet_count": int(tid % 3),
            "reply_count": 0,
            "like_count": int(likes),
            "quote_count": 0,
        },
        "entities": entities,
    }
    if reply_user is not None:
        t["in_reply_to_user_id"] = str(reply_user)
    if refs:
        t["referenced_tweets"] = [{"type": k, "id": str(v)} for k, v in refs]
    return t


def generate(seed: int, n_tweets: int) -> tuple[list[str], Truth]:
    """Return the JSONL lines and the expected results."""
    rng = np.random.default_rng(seed)
    n_users = max(50, n_tweets // 20)
    # Zipf-ish author popularity
    weights = 1.0 / np.arange(1, n_users + 1) ** 0.8
    weights /= weights.sum()

    authors = USER_ID_BASE + rng.choice(n_users, size=n_tweets, p=weights)
    tweets: list[dict] = []
    author_of: dict[int, int] = {}
    next_id = TWEET_ID_BASE
    for size in _thread_sizes(rng, n_tweets):
        root = next_id
        members = []
        for j in range(size):
            tid = next_id
            next_id += 1
            author = int(authors[tid - TWEET_ID_BASE])
            likes = int(rng.integers(0, 50))
            refs: list[tuple[str, int]] = []
            reply_user = None
            if j == 0:
                if tweets and rng.random() < QUOTE_SHARE:
                    target = int(rng.integers(TWEET_ID_BASE, root))
                    kind = "quoted" if rng.random() < 0.7 else "retweeted"
                    refs.append((kind, target))
            else:
                # half the replies answer the root, the rest an earlier reply
                parent = root if rng.random() < 0.5 else members[int(rng.integers(len(members)))]
                refs.append(("replied_to", parent))
                reply_user = author_of[parent]
            n_tags = int(rng.integers(0, 3))
            tags = [f"tag{int(x)}" for x in rng.integers(0, 40, n_tags)]
            mentions = [USER_ID_BASE + int(x) for x in rng.integers(0, n_users, int(rng.integers(0, 2)))]
            url = rng.random() < 0.2
            day = int(rng.integers(0, N_DAYS))
            tweets.append(
                _tweet(tid, root, author, day, likes, refs, reply_user, tags, mentions, url)
            )
            author_of[tid] = author
            members.append(tid)

    lines: list[str] = []
    truth = Truth(n_tweets=len(tweets))
    by_id = {int(t["id"]): t for t in tweets}
    users_seen: set[int] = set()
    missing_id = next_id + 1_000_000
    for start in range(0, len(tweets), PAGE_SIZE):
        data = tweets[start : start + PAGE_SIZE]
        ref_ids = sorted(
            {int(r["id"]) for t in data for r in t.get("referenced_tweets", [])}
        )
        includes = [by_id[i] for i in ref_ids]
        page_authors = sorted({int(t["author_id"]) for t in data + includes})
        users_seen.update(page_authors)
        page: dict = {
            "data": data,
            "includes": {
                "tweets": includes,
                "users": [
                    {
                        "id": str(a),
                        "username": f"u{a}",
                        "name": f"User {a}",
                        "created_at": "2020-01-01T00:00:00.000Z",
                        "description": "",
                        "public_metrics": {
                            "followers_count": a % 1000,
                            "following_count": a % 77,
                            "tweet_count": a % 500,
                            "listed_count": 0,
                        },
                    }
                    for a in page_authors
                ],
            },
        }
        truth.n_tweet_rows += len(data) + len(includes)
        if rng.random() < ERROR_PAGE_SHARE:
            n_err = int(rng.integers(1, 4))
            page["errors"] = [
                {
                    "value": str(missing_id + k),
                    "resource_id": str(missing_id + k),
                    "title": "Not Found Error",
                    "detail": f"Could not find tweet with id: [{missing_id + k}].",
                }
                for k in range(n_err)
            ]
            missing_id += n_err
            truth.n_errors += n_err
        lines.append(json.dumps(page, separators=(",", ":")))
    for k in range(CORRUPT_LINES):
        pos = int(rng.integers(0, len(lines) + 1))
        lines.insert(pos, '{"data":[{"id":"' + str(k) + '","text":"trunc')
    truth.n_users = len(users_seen)
    truth.roots = root_truth(tweets)
    return lines, truth


def root_truth(tweets: list[dict]) -> dict[int, tuple[int, int, int, int]]:
    """Per ur-root, from API tweet objects alone: tweets and likes over
    its ur-conversation, and the root tweet's reply-tree size and depth.

    A thread root that quotes or retweets a tweet hangs its conversation
    under that tweet's conversation; replies hang under the tweet they
    answer. Every tweet must appear once."""
    conv_of = {int(t["id"]): int(t["conversation_id"]) for t in tweets}
    conv_parent: dict[int, int] = {}
    reply_parent: dict[int, int] = {}
    for t in tweets:
        tid = int(t["id"])
        refs = {r["type"]: int(r["id"]) for r in t.get("referenced_tweets", [])}
        if "replied_to" in refs:
            reply_parent[tid] = refs["replied_to"]
        else:
            target = refs.get("quoted", refs.get("retweeted"))
            if target is not None and conv_of[target] != conv_of[tid]:
                conv_parent[conv_of[tid]] = conv_of[target]

    def ur(conv: int) -> int:
        while conv in conv_parent:
            conv = conv_parent[conv]
        return conv

    children: dict[int, list[int]] = {}
    for c, p in reply_parent.items():
        children.setdefault(p, []).append(c)

    def size_depth(root: int) -> tuple[int, int]:
        n, depth, frontier = 0, 0, children.get(root, [])
        while frontier:
            depth += 1
            n += len(frontier)
            frontier = [c for f in frontier for c in children.get(f, [])]
        return n, depth

    agg: dict[int, list[int]] = {}
    for t in tweets:
        a = agg.setdefault(ur(int(t["conversation_id"])), [0, 0])
        a[0] += 1
        a[1] += t["public_metrics"]["like_count"]
    return {r: (n, likes, *size_depth(r)) for r, (n, likes) in agg.items()}


def write_pages(out_dir: str, lines: list[str], n_files: int = 4) -> None:
    """Write the pages as ``n_files`` JSONL files (contiguous chunks)."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(lines) // n_files)
    for i in range(n_files):
        chunk = lines[i * per : (i + 1) * per]
        with open(os.path.join(out_dir, f"pages-{i:02d}.jsonl"), "w") as f:
            f.write("\n".join(chunk) + "\n")

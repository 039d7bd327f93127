"""Seeded generator of reference-shaped creator directories.

Each creator is one directory holding the two GraphQL documents the
reference scraper saved and ``creator_report.load_users`` /
``load_posts`` read: ``userInfo.json`` (``data.user``) and
``postInfo.json`` (``data.xdt_api__v1__feed__user_timeline_graphql_
connection.edges[].node``, newest first). The field mix follows
FIXTURES.md §A1/§A2 so that every branch of the report does real work:
private profiles (filtered out), paid partnerships, sponsor tags and
caption indicators, foreign owners and coauthors, locations and
capitalized city names, hashtags (including location-pattern ones),
mentions (including stoplist words), a NULL ``view_count`` on every post,
mostly-NULL ``share_count``, and post ages that straddle the 90- and
300-day windows.

``write_creators`` also returns, per public creator, the values the
benchmark checks the report against, computed here in plain Python from
the generated documents.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

from ig_etl_with_user_reports_2024_spark import dims
from ig_etl_with_user_reports_2024_spark.config import RECENT_DAYS

DAY = 86400
NICHE_WORDS = [kw for _, _, kws in dims.NICHE_KEYWORDS for kw in kws[:4]]
FIRST = ["ana", "ben", "cara", "dev", "eli", "fay", "gus", "hana", "ivo", "jade"]
LAST = ["smith", "lee", "garcia", "khan", "novak", "silva", "ito", "moreau"]
FOLLOWER_STEPS = [
    0, 999, 1000, 4999, 5000, 9999, 10000, 49999, 50000,
    499999, 500000, 999999, 1000000,
]
CATEGORIES = [
    "Digital creator", "Reel creator", "Public figure", "Artist",
    "Shopping & retail", "Personal blog", None,
]
BIO_LINKS = [
    "https://www.tiktok.com/@{u}", "https://youtube.com/@{u}",
    "https://linktr.ee/{u}", "https://example.com/{u}", "",
]
CITIES = [
    ("austin", "TX"), ("boston", "MA"), ("chicago", "IL"), ("denver", "CO"),
    ("miami", "FL"), ("seattle", "WA"), ("portland", "OR"), ("phoenix", "AZ"),
    ("atlanta", "GA"), ("nashville", "TN"), ("san diego", "CA"),
    ("new york", "NY"), ("los angeles", "CA"), ("dallas", "TX"),
]
LOCATION_TAGS = ["nyc", "miami", "citytrip", "beachday", "centralpark", "paris"]
STOP_MENTIONS = ["the", "and", "with", "my", "ok"]
PRODUCT_TYPES = [("clips", 2)] * 194 + [("carousel_container", 8)] * 35 + [("feed", 1)] * 23


def cities_rows() -> list[tuple[str, str, int]]:
    """The cities dimension (``city, state_id, ord``) the report's J2
    first-match join runs against."""
    return [(c, s, i) for i, (c, s) in enumerate(CITIES)]


def _caption(rng: random.Random, brands: list[str]) -> str:
    words = rng.sample(NICHE_WORDS, rng.randint(2, 6))
    parts = [" ".join(words)]
    parts += [f"#{w}" for w in rng.sample(NICHE_WORDS, rng.randint(0, 4))]
    if rng.random() < 0.25:
        parts.append(f"#{rng.choice(LOCATION_TAGS)}")
    if rng.random() < 0.35:
        parts.append(f"@{rng.choice(brands)}")
    if rng.random() < 0.1:
        parts.append(f"@{rng.choice(STOP_MENTIONS)}")
    if rng.random() < 0.08:
        parts.append(rng.choice(dims.SPONSOR_CAPTION_TERMS))
    if rng.random() < 0.05:
        parts.append(rng.choice(dims.UGC_KEYWORDS))
    if rng.random() < 0.15:
        parts.append(f"Trip to {rng.choice(CITIES)[0].title()}")
    if rng.random() < 0.1:
        parts.append("so good,\nreally ✨")
    return " ".join(parts)


def _post(rng: random.Random, user: str, i: int, taken_at: int, brands) -> dict:
    product_type, media_type = rng.choice(PRODUCT_TYPES)
    likes = int(rng.lognormvariate(5.5, 1.2))
    comments = int(likes * rng.uniform(0.002, 0.06))
    node = {
        "id": f"{user}_{i}",
        "pk": str(rng.randrange(10**12)),
        "code": f"C{user.replace('.', '')[:6]}{i}",
        "taken_at": taken_at,
        "caption": {
            "text": _caption(rng, brands),
            "created_at": taken_at,
            "pk": f"c{i}",
            "has_translation": False,
        },
        "like_count": likes,
        "comment_count": comments,
        "share_count": rng.randint(0, 50) if rng.random() < 0.05 else None,
        "view_count": None,
        "product_type": product_type,
        "media_type": media_type,
        "is_paid_partnership": rng.random() < 0.02,
        "sponsor_tags": (
            [{"username": rng.choice(brands)}] if rng.random() < 0.03 else None
        ),
        "owner": {
            "username": rng.choice(brands) if rng.random() < 0.03 else user,
            "pk": "o1",
        },
        "user": {"username": user},
        "coauthor_producers": (
            [{"username": rng.choice(brands)}] if rng.random() < 0.05 else None
        ),
        "location": (
            {
                "pk": f"l{i}",
                "lat": 30.0,
                "lng": -97.0,
                "name": rng.choice(CITIES)[0].title(),
            }
            if rng.random() < 0.2
            else None
        ),
    }
    if product_type == "carousel_container":
        node["carousel_media"] = [
            {"media_type": 1, "like_count": likes, "taken_at": taken_at}
        ]
    return {"node": node}


def write_creators(
    root: str, n_creators: int, posts_per_creator: int, seed: int, as_of: dt.datetime
) -> dict[str, dict]:
    """Write ``n_creators`` creator dirs under ``root``.

    Returns ``{username: {...}}`` for every public creator with the values
    the report must reproduce: ``follower_count``, ``avg_likes`` (Python
    ``round`` of the mean like count) and ``total_posts_last_3_months``
    (posts taken within 90 days of ``as_of``)."""
    rng = random.Random(seed)
    epoch = int(as_of.timestamp())
    cutoff = epoch - RECENT_DAYS * DAY
    brands = [f"brand{b}" for b in range(40)]
    expected: dict[str, dict] = {}
    for c in range(n_creators):
        niche = rng.choice(NICHE_WORDS)
        user = f"{rng.choice(FIRST)}.{niche}_{c:05d}"
        if rng.random() < 0.2:
            follower_count = rng.choice(FOLLOWER_STEPS)
        else:
            follower_count = int(10 ** rng.uniform(2, 6.3))
        bio = " | ".join(
            [
                " ".join(rng.sample(NICHE_WORDS, 3)),
                rng.choice(["UGC creator", "content creator", "brand ambassador", ""]),
                rng.choice([f"{user.split('.')[0]}@mail.com", "555-123-4567", ""]),
                rng.choice(["she/her mom of two", "dad and coach", "they/them", ""]),
            ]
        )
        private = rng.random() < 0.05
        user_doc = {
            "username": user,
            "full_name": f"{rng.choice(FIRST).title()} {rng.choice(LAST).title()}",
            "biography": bio,
            "follower_count": follower_count,
            "following_count": rng.choice([50, 80, 300, 900, 2500]),
            "media_count": posts_per_creator,
            "is_private": private,
            "is_verified": rng.random() < 0.1,
            "is_business": rng.random() < 0.2,
            "category": rng.choice(CATEGORIES),
            "external_url": rng.choice([None, f"https://shop.example.com/{c}"]),
            "pronouns": rng.choice([[], [], ["she/her"], ["he/him"], ["they/them"]]),
            "bio_links": [
                {"url": u.format(u=user)} for u in rng.sample(BIO_LINKS, rng.randint(0, 3))
            ],
            "profile_pic_url": None,
        }
        n_posts = rng.randint(posts_per_creator // 2, posts_per_creator * 3 // 2)
        # newest first, ~10 days apart on average: the oldest posts of a
        # creator lie beyond the 300-day window
        ages, age = [], rng.randint(0, 3) * DAY
        for _ in range(n_posts):
            ages.append(age)
            age += rng.randint(1, 20) * DAY + rng.randint(0, DAY - 1)
        posts = [
            _post(rng, user, i, epoch - a, brands) for i, a in enumerate(ages)
        ]
        d = os.path.join(root, user)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "userInfo.json"), "w") as fh:
            json.dump({"data": {"user": user_doc}, "status": "ok"}, fh)
        with open(os.path.join(d, "postInfo.json"), "w") as fh:
            json.dump(
                {
                    "data": {
                        "xdt_api__v1__feed__user_timeline_graphql_connection": {
                            "edges": posts,
                            "page_info": {"has_next_page": False},
                        }
                    },
                    "status": "ok",
                },
                fh,
            )
        if not private:
            likes = [p["node"]["like_count"] for p in posts]
            expected[user] = {
                "follower_count": follower_count,
                "avg_likes": round(sum(likes) / len(likes)),
                # a creator without followers reports no recent posts
                # (the reference's calculate_top_post_er early return)
                "total_posts_last_3_months": sum(
                    p["node"]["taken_at"] >= cutoff for p in posts
                )
                if follower_count > 0
                else 0,
            }
    return expected

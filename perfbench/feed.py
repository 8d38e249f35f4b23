"""Seeded job-postings feed for the ETL workloads, with its ground truth.

The feed is a list of batches. Batch 0 is the initial load; every later
batch mixes

- new identities (an identity is company | title | location, the
  normalizer's hash key),
- re-seen identities from earlier batches whose salary and links changed,
- near-copies: new identities whose description is an earlier posting's
  description with two words swapped (the near-duplicate feed property
  the dedupe stage must find; descriptions are otherwise drawn from a
  large vocabulary so MinHash bands do not collide by chance),
- planned rejects: rows with an empty title, company or location.

Companies come from a pool that gains a few new names per batch. The
generator is pure Python and uses only ``random.Random(seed)``, so the
same seed yields the same pages, raw ids and ground truth.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

SOURCE = "mock_api"

_SYLLABLES = [
    "ka", "lo", "mi", "ra", "ve", "tu", "no", "si", "da", "pe", "gor", "lin",
    "tas", "mer", "vol", "qui", "zen", "bra", "cal", "dor", "fen", "hul",
    "jin", "kor", "lum", "nax", "pri", "rud", "sol", "tri", "ulm", "wex",
]
_LEVELS = ["Junior", "Senior", "Lead", "Principal", "Staff", "Intern", "", "Mid-level"]
_ROLES = [
    "Data Engineer", "Analytics Engineer", "Data Scientist",
    "Machine Learning Engineer", "Data Analyst", "ETL Developer",
    "Platform Engineer", "BI Developer",
]
_CITIES = [
    "Montreal, QC, Canada", "Toronto, ON, Canada", "Vancouver, BC, Canada",
    "Remote", "New York, NY, USA", "Calgary, AB, Canada", "Ottawa, ON, Canada",
    "Boston, MA, USA", "Austin, TX, USA", "Seattle, WA, USA",
]
_SKILL_WORDS = [
    "python", "sql", "airflow", "dbt", "tableau", "docker", "aws", "spark",
    "pandas", "machine learning",
]
_REMOTE = ["remote", "hybrid", "onsite"]
_CONTRACT = ["full_time", "part_time", "contract"]
_SIZES = ["1-10", "11-50", "51-200", "201-500", "501-1000", "1001-5000"]
_SUFFIXES = ["Analytics", "Labs", "Systems", "Data", "Works", "Group"]


# shares of each incremental batch (REJECT applies to batch 0 as well)
RESEEN = 0.20
NEAR_COPY = 0.05
REJECT = 0.02
NEW_COMPANIES = 2  # joined to the pool per incremental batch
DESC_WORDS = 48


@dataclass(frozen=True)
class FeedSpec:
    """Sizes of one feed."""

    initial: int  # rows in batch 0
    batch: int  # rows in each incremental batch
    batches: int  # incremental batches after batch 0
    companies: int  # the pool before batch 0


@dataclass
class Batch:
    """One batch's raw records plus what the pipeline must do with them."""

    index: int
    records: list[dict]  # {"raw_id", "payload"} in fetch order
    new_keys: list[tuple[str, str, str]]
    reseen_keys: list[tuple[str, str, str]]
    near_copy_keys: list[tuple[str, str, str]]
    rejects: int
    new_companies: list[str]
    # after this batch: every accepted identity → its latest payload
    latest: dict[tuple[str, str, str], dict] = field(repr=False, default_factory=dict)
    companies_seen: int = 0
    identities_seen: int = 0


def _word(rng: random.Random) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))


def _company_name(rng: random.Random, n: int) -> str:
    return f"{_word(rng).capitalize()} {rng.choice(_SUFFIXES)} {n}"


def _description(rng: random.Random, vocab: list[str], words: int) -> str:
    body = [rng.choice(vocab) for _ in range(words)]
    skills = rng.sample(_SKILL_WORDS, rng.randint(1, 4))
    return " ".join(body) + ". Skills: " + ", ".join(skills) + "."


def _near_copy(rng: random.Random, desc: str, vocab: list[str]) -> str:
    words = desc.split(" ")
    for _ in range(2):
        words[rng.randrange(len(words) - 4)] = rng.choice(vocab)
    return " ".join(words)


def _payload(key, company_size, desc, rng, n) -> dict:
    company, title, location = key
    lo = 50_000 + 1_000 * rng.randint(0, 60)
    return {
        "title": title,
        "company": company,
        "location": location,
        "remote_type": rng.choice(_REMOTE),
        "contract_type": rng.choice(_CONTRACT),
        "salary_min": lo,
        "salary_max": lo + 1_000 * rng.randint(5, 50),
        "salary_currency": "CAD",
        "description": desc,
        "skills": None,
        "posted_date": f"2026-01-{1 + rng.randrange(28):02d}T10:00:00Z",
        "job_url": f"https://jobs.example.com/{n}/{rng.randrange(1 << 30)}",
        "apply_url": f"https://apply.example.com/{n}",
        "company_size": company_size,
        "provider_job_id": f"feed_{n}",
    }


def generate(spec: FeedSpec, seed: int) -> list[Batch]:
    """Build every batch of the feed for ``seed``; see the module doc."""
    rng = random.Random(seed)
    vocab = sorted({_word(rng) for _ in range(4000)})
    pool: list[str] = []
    sizes: dict[str, str] = {}
    names: set[str] = set()

    def add_company() -> str:
        while True:
            name = _company_name(rng, len(pool))
            if name not in names:
                names.add(name)
                pool.append(name)
                sizes[name] = rng.choice(_SIZES)
                return name

    for _ in range(spec.companies):
        add_company()
    latest: dict[tuple[str, str, str], dict] = {}
    seen_companies: set[str] = set()
    descriptions: list[str] = []
    serial = 0
    out: list[Batch] = []
    for b in range(spec.batches + 1):
        size = spec.initial if b == 0 else spec.batch
        fresh = [] if b == 0 else [add_company() for _ in range(NEW_COMPANIES)]
        n_rej = max(1, round(size * REJECT))
        n_reseen = 0 if b == 0 else round(size * RESEEN)
        n_near = 0 if b == 0 else round(size * NEAR_COPY)
        n_new = size - n_rej - n_reseen
        rows: list[tuple[tuple[str, str, str], dict]] = []
        new_keys, near_keys = [], []
        for i in range(n_new):
            # every fresh company lands at least once in its batch
            company = fresh[i] if i < len(fresh) else rng.choice(pool)
            serial += 1
            level = rng.choice(_LEVELS)
            title = f"{level} {rng.choice(_ROLES)} {serial}".strip()
            key = (company, title, rng.choice(_CITIES))
            if i < n_near:
                desc = _near_copy(rng, rng.choice(descriptions), vocab)
                near_keys.append(key)
            else:
                desc = _description(rng, vocab, DESC_WORDS)
            descriptions.append(desc)
            new_keys.append(key)
            rows.append((key, _payload(key, sizes[company], desc, rng, serial)))
        reseen_keys = rng.sample(sorted(latest), n_reseen) if n_reseen else []
        for key in reseen_keys:
            prev = latest[key]
            serial += 1
            p = _payload(key, prev["company_size"], prev["description"], rng, serial)
            p["provider_job_id"] = prev["provider_job_id"]
            rows.append((key, p))
        for i in range(n_rej):
            serial += 1
            key = (rng.choice(pool), f"Rejected Role {serial}", rng.choice(_CITIES))
            p = _payload(key, "11-50", _description(rng, vocab, 8), rng, serial)
            p[("title", "company", "location")[i % 3]] = "" if i % 2 else "   "
            rows.append((None, p))
        rng.shuffle(rows)
        for key, p in rows:
            if key is not None:
                latest[key] = p
                seen_companies.add(key[0])
        records = [
            {"raw_id": f"{seed:08x}{b:04x}{i:06x}", "payload": p}
            for i, (_, p) in enumerate(rows)
        ]
        out.append(
            Batch(
                index=b,
                records=records,
                new_keys=new_keys,
                reseen_keys=reseen_keys,
                near_copy_keys=near_keys,
                rejects=n_rej,
                new_companies=fresh,
                latest=dict(latest),
                companies_seen=len(seen_companies),
                identities_seen=len(latest),
            )
        )
    return out


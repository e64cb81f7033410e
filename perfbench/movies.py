"""Seeded raw-movie generator for the medallion workloads.

Writes multiline JSON files shaped like the pipeline's raw zone (one
``{"movie": [...]}`` object per file) and returns the ground truth the output
checks compare against. The inputs carry every property the pipeline has a
code path for: exact duplicate structs within and across files, ``RunTime < 0``
(quarantine, then abs() repair), ``Budget`` below the 100 000 floor, genre
entries with an empty name, and a small set of original languages.

Only the content depends on the seed; sizes are fixed by the caller, so every
seed gives the same amount of work.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field
from pathlib import Path

GENRES = [
    "Action", "Adventure", "Animation", "Comedy", "Crime", "Documentary",
    "Drama", "Family", "Fantasy", "History", "Horror", "Music", "Mystery",
    "Romance", "Science Fiction", "Thriller", "War", "Western",
]
LANGUAGES = ["en", "fr", "de", "es", "it", "ja", "ko", "hi"]
# genre entries with an empty name share this id; the silver genre dimension
# drops them, so the id never reaches gold
EMPTY_GENRE_ID = 0
CREATED_DATES = [f"2020-{m:02d}-15" for m in range(1, 13)]
_WORDS = (
    "a an the of in on at to and but with from into over under after before "
    "love war city night star dark light world last first lost home road "
    "river story secret house family dream time heart fire ice stone king "
    "queen ghost machine island winter summer shadow garden empire voyage"
).split()


@dataclass
class Truth:
    """What a correct pipeline leaves in the lake for the files landed so far."""

    bronze_rows: int = 0
    ids: set[int] = field(default_factory=set)
    quarantined_ids: set[int] = field(default_factory=set)
    genre_ids: set[int] = field(default_factory=set)
    languages: set[str] = field(default_factory=set)
    raw_bytes: int = 0


class MovieGenerator:
    """Mints movie structs with increasing Ids and remembers them, so later
    arrivals can re-send already-loaded payloads byte for byte."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.next_id = 1
        self.sent: list[dict] = []
        self.truth = Truth()

    def _text(self, n_words: int) -> str:
        return " ".join(self.rng.choice(_WORDS) for _ in range(n_words))

    def _movie(self) -> dict:
        rng = self.rng
        mid = self.next_id
        self.next_id += 1
        if rng.random() < 0.12:
            budget = round(rng.uniform(1_000.0, 99_000.0), 2)
        else:
            budget = round(rng.uniform(100_000.0, 200_000_000.0), 2)
        runtime = -rng.randint(30, 200) if rng.random() < 0.06 else rng.randint(60, 200)
        genres = [
            {"id": g + 1, "name": GENRES[g]}
            for g in sorted(rng.sample(range(len(GENRES)), rng.randint(1, 3)))
        ]
        if rng.random() < 0.1:
            genres.append({"id": EMPTY_GENRE_ID, "name": ""})
        return {
            "Id": mid,
            "Title": self._text(3).title(),
            "Overview": self._text(rng.randint(25, 45)),
            "Tagline": self._text(6),
            "Budget": budget,
            "Revenue": round(budget * rng.uniform(0.2, 4.0), 2),
            "Price": round(rng.uniform(1.99, 19.99), 2),
            "RunTime": runtime,
            "ImdbUrl": f"https://imdb.example/title/tt{mid:08d}",
            "TmdbUrl": f"https://tmdb.example/movie/{mid}",
            "PosterUrl": f"https://img.example/poster/{mid}.jpg",
            "BackdropUrl": f"https://img.example/backdrop/{mid}.jpg",
            "OriginalLanguage": rng.choice(LANGUAGES),
            "ReleaseDate": f"{rng.randint(1950, 2019)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
            "CreatedDate": rng.choice(CREATED_DATES),
            "UpdatedDate": "2021-01-01",
            "CreatedBy": "loader",
            "UpdatedBy": "loader",
            "genres": genres,
        }

    def land(
        self,
        raw_dir: str,
        n_new: int,
        n_files: int,
        prefix: str,
        resend: int = 0,
    ) -> int:
        """Write ``n_new`` fresh movies plus exact duplicates of a tenth of
        them and ``resend`` re-sent earlier payloads, shuffled over ``n_files``
        files. Updates the ground truth and returns the bytes written."""
        rng = self.rng
        fresh = [self._movie() for _ in range(n_new)]
        structs = fresh + [rng.choice(fresh) for _ in range(n_new // 10)]
        structs += [rng.choice(self.sent) for _ in range(resend)]
        rng.shuffle(structs)
        self.sent.extend(fresh)

        t = self.truth
        t.bronze_rows += len(structs)
        for m in fresh:
            t.ids.add(m["Id"])
            if m["RunTime"] < 0:
                t.quarantined_ids.add(m["Id"])
            t.genre_ids.update(g["id"] for g in m["genres"] if g["name"])
            t.languages.add(m["OriginalLanguage"])

        out = Path(raw_dir)
        out.mkdir(parents=True, exist_ok=True)
        per_file = -(-len(structs) // n_files)
        written = 0
        for i in range(n_files):
            chunk = structs[i * per_file:(i + 1) * per_file]
            # multiline layout (one field per line), as the raw zone stores it
            text = json.dumps({"movie": chunk}, indent=1)
            (out / f"{prefix}_{i:03d}.json").write_text(text)
            written += len(text.encode())
        t.raw_bytes += written
        return written

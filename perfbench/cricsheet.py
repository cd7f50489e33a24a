"""Seeded cricsheet match generator and the pipeline oracle derived from it.

Matches follow the shape of the engine's `match_full.json` fixture: two
innings of 20 overs with 6-7 deliveries each (wides and no-balls add a
ball), occasional wickets with fielders, and seeded names and venues.
The field set is the fixture's, with one date per match; `info.players`
and `info.registry.people` are left out on purpose, because the staging
flatten explodes every array and map, so each extra collection would
multiply the rows per match.

The oracle needs no engine: `staged_rows` counts the rows the outer
flatten produces from the nested structure alone, and `Plan` turns those
counts into the expected `RunResult` of every `Pipeline.runOnce` call and
the expected ledger key set.

Every byte written depends on the seed alone, so a seed reproduces the
same archives.
"""
import hashlib
import io
import json
import os
import random
import zipfile

TEAMS = [
    "Chennai Kings", "Mumbai Tides", "Delhi Capitals XI", "Kolkata Knights",
    "Punjab Lions", "Rajasthan Royals XI", "Bangalore Chargers",
    "Hyderabad Risers", "Lucknow Giants XI", "Gujarat Titans XI",
]
VENUES = [
    ("Chepauk", "Chennai"), ("Wankhede Stadium", "Mumbai"),
    ("Feroz Shah Kotla", "Delhi"), ("Eden Gardens", "Kolkata"),
    ("PCA Stadium", "Mohali"), ("Sawai Mansingh Stadium", "Jaipur"),
    ("Chinnaswamy Stadium", "Bengaluru"), ("Uppal Stadium", "Hyderabad"),
    ("Ekana Stadium", "Lucknow"), ("Narendra Modi Stadium", "Ahmedabad"),
]
FIRST = ["A", "B", "C", "D", "E", "G", "H", "J", "K", "M", "N", "P", "R", "S", "V", "Y"]
LAST = [
    "Sharma", "Kumar", "Singh", "Patel", "Iyer", "Rao", "Gill", "Pandya",
    "Khan", "Yadav", "Reddy", "Nair", "Das", "Joshi", "Mehta", "Bose",
]
# Wicket kinds and how many fielders each credits. Every kind and every
# extras key `_innings` uses occurs many times in a backfill of a few
# matches, so a later day never shows a column the schema log has not
# recorded.
WICKETS = [("bowled", 0), ("caught", 1), ("lbw", 0), ("run out", 2), ("stumped", 1)]


def _squad(rng, team):
    names = set()
    while len(names) < 11:
        names.add(f"{rng.choice(FIRST)} {rng.choice(LAST)} ({team.split()[0][:3]})")
    return sorted(names)


def _innings(rng, team, batters, bowlers, target=None):
    overs = []
    striker, non_striker, next_in = 0, 1, 2
    for over in range(20):
        bowler = bowlers[over % len(bowlers)]
        deliveries, legal = [], 0
        while legal < 6:
            d = {"batter": batters[striker], "bowler": bowler,
                 "non_striker": batters[non_striker]}
            roll = rng.random()
            if roll < 0.04:
                kind = rng.choice(["wides", "noballs"])
                extra = 1
                bat = rng.choice([0, 0, 1, 4]) if kind == "noballs" else 0
                d["runs"] = {"batter": bat, "extras": extra, "total": bat + extra}
                d["extras"] = {kind: extra}
            else:
                legal += 1
                if roll < 0.07:
                    kind = rng.choice(["legbyes", "byes"])
                    extra = rng.choice([1, 1, 2, 4])
                    d["runs"] = {"batter": 0, "extras": extra, "total": extra}
                    d["extras"] = {kind: extra}
                else:
                    bat = rng.choice([0, 0, 0, 1, 1, 1, 2, 3, 4, 4, 6])
                    d["runs"] = {"batter": bat, "extras": 0, "total": bat}
                if rng.random() < 0.045 and next_in < len(batters):
                    kind, n_fielders = rng.choice(WICKETS)
                    wicket = {"kind": kind, "player_out": batters[striker]}
                    if n_fielders:
                        wicket["fielders"] = [
                            {"name": f} for f in rng.sample(bowlers, n_fielders)]
                    d["wickets"] = [wicket]
                    striker = next_in
                    next_in += 1
            if d["runs"]["batter"] % 2 == 1:
                striker, non_striker = non_striker, striker
            deliveries.append(d)
        overs.append({"over": over, "deliveries": deliveries})
        striker, non_striker = non_striker, striker
    inn = {"team": team, "overs": overs}
    if target is not None:
        inn["target"] = {"overs": 20, "runs": target}
    return inn


def _total(inn):
    return sum(d["runs"]["total"] for o in inn["overs"] for d in o["deliveries"])


def make_match(rng, match_number, season, extra_info=None):
    """One match as a dict in cricsheet's field order. `extra_info` adds
    leaf fields under `info`, which the pipeline reports as drift."""
    home, away = rng.sample(TEAMS, 2)
    venue, city = VENUES[TEAMS.index(home)]
    squads = {home: _squad(rng, home), away: _squad(rng, away)}
    toss_winner = rng.choice([home, away])
    decision = rng.choice(["bat", "field"])
    first = toss_winner if decision == "bat" else (away if toss_winner == home else home)
    second = away if first == home else home
    inn1 = _innings(rng, first, squads[first], squads[second][6:])
    inn2 = _innings(rng, second, squads[second], squads[first][6:], _total(inn1) + 1)
    r1, r2 = _total(inn1), _total(inn2)
    if r1 > r2:
        outcome = {"winner": first, "by": {"runs": r1 - r2}}
    else:
        outcome = {"winner": second, "by": {"wickets": rng.randint(1, 9)}}
    month, day = 3 + match_number % 3, 1 + match_number % 28
    info = {
        "balls_per_over": 6,
        "city": city,
        "dates": [f"{season}-{month:02d}-{day:02d}"],
        "event": {"name": "Indian Premier League", "match_number": match_number},
        "gender": "male",
        "match_type": "T20",
        "outcome": outcome,
        "overs": 20,
        "player_of_match": [rng.choice(squads[outcome["winner"]])],
        "season": str(season),
        "teams": [home, away],
        "toss": {"decision": decision, "winner": toss_winner},
        "venue": venue,
    }
    info.update(extra_info or {})
    return {"meta": {"data_version": "1.1.0", "created": f"{season}-06-01", "revision": 1},
            "info": info, "innings": [inn1, inn2]}


def staged_rows(value):
    """Rows the outer flatten makes of `value`: arrays multiply their
    siblings by their length (an empty or absent array still leaves one
    row), and a struct is the product of its fields."""
    if isinstance(value, dict):
        n = 1
        for v in value.values():
            n *= staged_rows(v)
        return n
    if isinstance(value, list):
        return max(1, sum(staged_rows(v) for v in value))
    return 1


def match_bytes(match):
    return (json.dumps(match, indent=2) + "\n").encode("utf-8")


CORRUPT = b'{\n  "meta": {"data_version": "1.1.0",\n  "info": [truncated\n'


def write_zip(path, entries):
    """A zip whose bytes depend only on `entries` (fixed timestamps)."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in entries:
            info = zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            z.writestr(info, data)
    with open(path, "wb") as f:
        f.write(buf.getvalue())


class Plan:
    """Landing archives plus the expected result of each runOnce call.

    `archive(...)` records one zip; `land(...)` accounts for the entries
    the next call processes and returns what it must report. The ledger
    is the set of file keys ever processed, corrupt files included."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.match_no = 0
        self.made = {}  # file_key -> staged rows of every generated match
        self.rows = {}  # processed file_key -> staged rows (0 when corrupt)
        self.json_bytes = 0  # uncompressed bytes of every staged match
        self.archives = {}  # zip name -> entries
        self.drift_fields = 0

    def new_match(self, drift=False):
        """(file_key, JSON bytes) of a new match."""
        self.match_no += 1
        key = f"m{self.match_no:06d}"
        extra = None
        if drift:
            self.drift_fields += 1
            extra = {f"supersub_rule_{self.drift_fields}": "substitute allowed"}
        m = make_match(self.rng, self.match_no, 2008 + self.match_no % 17, extra)
        self.made[key] = staged_rows(m)
        return key, match_bytes(m)

    def archive(self, name, entries):
        self.archives[name] = [(f"{k}.json", data) for k, data in entries]

    def land(self, entries):
        """Account for entries about to be processed; returns
        (new_files, corrupt_files) for the next runOnce."""
        new, corrupt = 0, 0
        for key, data in entries:
            if key in self.rows:
                continue
            new += 1
            if data is CORRUPT:
                corrupt += 1
                self.rows[key] = 0
            else:
                self.rows[key] = self.made[key]
                self.json_bytes += len(data)
        return new, corrupt

    def staged_total(self):
        return sum(self.rows.values())

    def ledger(self):
        """Size and SHA-256 of the sorted ledger keys, one per line."""
        keys = "\n".join(sorted(self.rows))
        return [len(self.rows), hashlib.sha256(keys.encode()).hexdigest()]


def backfill_plan(seed, n_matches, per_zip):
    """Archives of `n_matches` matches, `per_zip` to a zip, and the
    expected result of one cold runOnce over all of them."""
    plan = Plan(seed)
    entries = [plan.new_match() for _ in range(n_matches)]
    for i in range(0, n_matches, per_zip):
        plan.archive(f"hist_{i // per_zip:04d}.zip", entries[i:i + per_zip])
    new, corrupt = plan.land(entries)
    expect = {"newFiles": new, "stagedRows": plan.staged_total(),
              "corruptFiles": corrupt, "hadDrift": False}
    return plan, expect


def daily_plan(seed, n_history, per_zip, n_days):
    """History archives, then per day one archive of 1-3 new matches
    (sometimes with a re-delivered match, a corrupt file or a new info
    field) followed by an expected no-op rerun."""
    plan, history = backfill_plan(seed, n_history, per_zip)
    days = []
    for day in range(n_days):
        rng = plan.rng
        drift = day % 7 == 3
        entries = [plan.new_match(drift=drift and i == 0)
                   for i in range(rng.randint(1, 3))]
        if rng.random() < 0.3:
            old = f"m{rng.randint(1, n_history):06d}"
            entries.append((old, _history_bytes(plan, old)))
        if rng.random() < 0.1:
            entries.append((f"bad{day:04d}", CORRUPT))
        name = f"day_{day:04d}.zip"
        plan.archive(name, entries)
        rows_before = plan.staged_total()
        new, corrupt = plan.land(entries)
        days.append({
            "zip": name,
            "new": {"newFiles": new, "stagedRows": plan.staged_total(),
                    "corruptFiles": corrupt, "hadDrift": drift},
            "noop": {"newFiles": 0, "stagedRows": 0, "corruptFiles": 0, "hadDrift": False},
            "matches": new - corrupt,
            "rows_added": plan.staged_total() - rows_before,
            "ledger": plan.ledger(),
            "staged_matches": sum(1 for r in plan.rows.values() if r),
            "json_bytes": plan.json_bytes,
        })
    return plan, history, days


def _history_bytes(plan, key):
    for entries in plan.archives.values():
        for name, data in entries:
            if name == f"{key}.json":
                return data
    raise KeyError(key)


def write_archives(plan, names, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        write_zip(os.path.join(out_dir, name), plan.archives[name])

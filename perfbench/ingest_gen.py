"""Seeded openfootball-shaped corpus for the `ingest` workload, with the
ground truth the pipeline's outputs are checked against.

Layout: `repo/<season dir>/<code>.<version>.json`, one league season per
file, plus `aliases.tsv` (alias -> canonical team name). The corpus holds
the reference's dirt: both layouts (`matches[]` and `rounds[].matches[]`),
corrupt JSON, files missing required fields, unplayed matches, alias team
names, and several versions per (season dir, league code), where the
pipeline must keep the highest version in natural order (`en.10` beats
`en.2`). Everything derives from one `random.Random(seed)` in a single
process, so a seed always yields the same bytes.
"""
import hashlib
import json
import os
import random

LEAGUES = [
    ("at", "Austrian Bundesliga"), ("be", "Belgian First Division"),
    ("de", "German Bundesliga"), ("en", "English Premier League"),
    ("es", "Spanish La Liga"), ("fr", "French Ligue 1"),
    ("it", "Italian Serie A"), ("nl", "Dutch Eredivisie"),
]
FIRST_SEASON, SEASONS = 2014, 4
TEAMS = 12
# Three versions per (season dir, league code); the highest valid one wins.
VERSION_CHOICES = [(1, 2, 10), (2, 3, 10), (1, 10, 11), (2, 9, 10), (1, 2, 3)]
CORRUPT_FILES = 9
MISSING_FILES = 6
UNPLAYED_P = 0.05
ALIAS_P = 0.2
# README.md:66-84 of the reference, plus the lineage source file
NORMALIZED_COLUMNS = [
    "team_away", "team_home", "league", "season", "round", "match_date", "match_time",
    "ht_home", "ht_away", "ft_home", "ft_away", "source_file", "winner", "points_home",
    "points_away", "schema_version", "source_commit", "ingestion_ts"]


def season_labels(year):
    """(season dir, season label) as openfootball names them."""
    return f"{year}-{(year + 1) % 100:02d}", f"{year}/{(year + 1) % 100:02d}"


def _teams(code):
    return [f"{code.upper()} Club {i:02d}" for i in range(TEAMS)]


def _alias(team):
    return "FC " + team.split(" Club ")[0].lower() + " " + team.split(" Club ")[1]


def _season_matches(rng, code, year, teams):
    """A full double round robin in round order; some matches are unplayed."""
    out = []
    n = len(teams)
    for rnd in range(2 * (n - 1)):
        for k in range(n // 2):
            a, b = (rnd + k) % (n - 1), (n - 1 - k + rnd) % (n - 1)
            if k == 0:
                b = n - 1
            home, away = (teams[a], teams[b]) if rnd % 2 == 0 else (teams[b], teams[a])
            day = 1 + (rnd * 7 + k) % 28
            month = 8 + rnd * 9 // (2 * (n - 1))
            y, m = (year, month) if month <= 12 else (year + 1, month - 12)
            match = {"round": f"Matchday {rnd + 1}", "date": f"{y}-{m:02d}-{day:02d}",
                     "team1": home, "team2": away}
            if rng.random() >= UNPLAYED_P:
                ft = [rng.randint(0, 4), rng.randint(0, 4)]
                match["score"] = {"ht": [min(ft[0], rng.randint(0, 2)), min(ft[1], rng.randint(0, 2))],
                                  "ft": ft}
                match["time"] = f"{rng.choice([13, 15, 17, 19])}:{rng.choice(['00', '30'])}"
            out.append(match)
    return out


def generate(seed, out_dir):
    """Write the corpus for `seed` under `out_dir`; return its ground truth."""
    rng = random.Random(seed)
    aliases = {}
    files = []  # [season dir, code, version, kind, label, matches, layout]
    for year in range(FIRST_SEASON, FIRST_SEASON + SEASONS):
        sdir, label = season_labels(year)
        for code, name in LEAGUES:
            teams = _teams(code)
            for version in rng.choice(VERSION_CHOICES):
                matches = _season_matches(rng, code, year, teams)
                for m in matches:
                    for side in ("team1", "team2"):
                        if rng.random() < ALIAS_P:
                            aliases[_alias(m[side])] = m[side]
                            m[side] = _alias(m[side])
                layout = rng.choice(["flat", "rounds"])
                files.append([sdir, code, version, "ok", f"{name} {label}", matches, layout])
    # A fixed number of dirty files, never a key's lowest version, so the
    # corpus has the same volume and partitions whatever the seed.
    lowest = {}  # versions are appended in ascending order: the first is the lowest
    for i, f in enumerate(files):
        lowest.setdefault((f[0], f[1]), i)
    dirty = rng.sample(sorted(set(range(len(files))) - set(lowest.values())),
                       CORRUPT_FILES + MISSING_FILES)
    for n, i in enumerate(dirty):
        files[i][3] = "corrupt" if n < CORRUPT_FILES else "missing"

    repo = os.path.join(out_dir, "repo")
    for sdir, code, version, kind, record_name, matches, layout in files:
        os.makedirs(os.path.join(repo, sdir), exist_ok=True)
        if kind == "missing":
            doc = {"name": record_name}
        elif layout == "flat":
            doc = {"name": record_name, "matches": matches}
        else:
            rounds = {}
            for m in matches:
                rounds.setdefault(m["round"], []).append({k: v for k, v in m.items() if k != "round"})
            doc = {"name": record_name, "rounds": [{"name": k, "matches": v} for k, v in rounds.items()]}
        text = json.dumps(doc, indent=1, sort_keys=True)
        if kind == "corrupt":
            text = text[: len(text) // 2]
        with open(os.path.join(repo, sdir, f"{code}.{version}.json"), "w") as f:
            f.write(text)
    with open(os.path.join(out_dir, "aliases.tsv"), "w") as f:
        f.writelines(f"{a}\t{c}\n" for a, c in sorted(aliases.items()))
    return truth(files, aliases)


def truth(files, aliases):
    """Expected check strings of the four pipeline steps (see Harness.scala)."""
    league_name = dict(LEAGUES)
    latest = {}
    for f in files:
        sdir, code, version, kind = f[:4]
        if kind == "ok" and version > latest.get((sdir, code), (0,))[0]:
            latest[(sdir, code)] = (version, f)
    teams, counts = {}, {}
    for _, f in latest.values():
        league, season = league_name[f[1]], f[4].rsplit(" ", 1)[1]
        counts[(league, season)] = len(f[5])
        for m in f[5]:
            home, away = aliases.get(m["team1"], m["team1"]), aliases.get(m["team2"], m["team2"])
            for team, side in ((home, 0), (away, 1)):
                t = teams.setdefault((league, season, team), {"played": 0, "points": 0, "gf": 0, "ga": 0})
                if "score" in m:
                    gf, ga = m["score"]["ft"][side], m["score"]["ft"][1 - side]
                    t["played"] += 1
                    t["points"] += 3 if gf > ga else 1 if gf == ga else 0
                    t["gf"] += gf
                    t["ga"] += ga
    lines = [f"M|{lg}|{s}|{n}" for (lg, s), n in counts.items()]
    by_table = {}
    for (league, season, team), t in teams.items():
        by_table.setdefault((league, season), []).append((team, t))
    for rows in by_table.values():
        rows.sort(key=lambda r: (-r[1]["points"], -(r[1]["gf"] - r[1]["ga"]), -r[1]["gf"], r[0]))
        for rank, (_, t) in enumerate(rows, 1):
            t["rank"] = rank
    prev = {}
    for league, season, team in sorted(teams):
        t = teams[(league, season, team)]
        before = prev.get((league, team))
        lines.append(f"T|{league}|{season}|{team}|{t['played']}|{t['points']}|{t['rank']}|"
                     f"{'null' if before is None else before}")
        prev[(league, team)] = t["points"]
    lines.sort()
    return {
        "soccer.validate": "corrupt=%d;missing=%d" % (
            sum(f[3] == "corrupt" for f in files), sum(f[3] == "missing" for f in files)),
        "soccer.run": "columns=" + ",".join(NORMALIZED_COLUMNS),
        # repartition(league, season) puts each partition in one task: one file each
        "soccer.write": f"partitions={len(counts)};files={len(counts)}",
        "soccer.standings": hashlib.md5("\n".join(lines).encode()).hexdigest(),
        "soccer.dedup": "new=0",
        "match_rows_parsed": sum(len(f[5]) for f in files if f[3] == "ok"),
    }

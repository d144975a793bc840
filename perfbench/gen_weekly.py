"""Seeded raw-archive generator for the ``weekly_refresh`` workload.

Writes two overlapping weekly archives of the Oireachtas API shapes the
weekly cadence reads (``members``, ``divisions``, ``debates``,
``debate_xml`` and ``questions`` JSON-lines, one page payload per line)
and keeps, beside them, the generator's own model of what each table must
hold after each week. The model is computed from the generated records
alone (identity tuples, planted flags), never by calling the program, so
the workload can check the warehouse against it.

Week 2 overlaps week 1 the way a real re-fetch does: every division,
debate and question of the last 35 days is delivered again, unchanged,
next to the new ones. It also closes memberships (one member departs,
three switch party, two offices end) and adds one member, so the four
write policies all see real work: ``snapshot_replace`` (members,
manifests), ``upsert`` (every other silver table), ``append`` (run and DQ
control tables) and ``rebuild`` (gold marts).
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass
from datetime import date, timedelta

WEEK1_AS_OF = date(2026, 8, 13)
WEEK2_AS_OF = date(2026, 8, 20)
HISTORY_START = date(2025, 9, 1)
OVERLAP_DAYS = 35
PAGE_SIZE = 50

#: written by every run_refresh from its own telemetry
CONTROL_TABLES = ("control_pipeline_runs", "control_table_manifests",
                  "control_data_quality_results")

_FIRST = ("Aoife Brian Ciara Declan Eimear Fionn Grainne Hugh Niamh Ois"
          "in Roisin Sean Tadhg Una Conor Maeve Padraig Siobhan Liam Orla"
          ).split()
_LAST = ("Byrne Walsh Murphy Kelly OBrien Ryan Doyle Lynch Murray Quinn "
         "Moore McCarthy Nolan Daly Brennan Burke Collins Clarke Foley "
         "Kavanagh").split()
_PARTIES = ("Fianna Fail", "Fine Gael", "Sinn Fein", "Labour Party",
            "Social Democrats", "Green Party", "Independent")
_CONSTITUENCIES = tuple(
    f"{a} {b}" for a in ("Cork", "Dublin", "Galway", "Kerry", "Mayo",
                         "Wicklow", "Louth", "Clare")
    for b in ("North", "South", "Central"))
_OFFICES = ("Minister for Transport", "Minister for Health",
            "Minister for Finance", "Minister for Education",
            "Minister of State for Housing", "Chief Whip")
_SUBJECTS = ("Second Stage", "Committee Stage", "Motion", "Amendment",
             "Report Stage", "Private Members Business")
_WORDS = ("housing budget health school transport water energy climate "
          "farm rural hospital waiting list rent tax credit minister "
          "committee report amendment motion question answer service "
          "local county council funding scheme support").split()
_VOTE_KEYS = ("taVotes", "nilVotes", "staonVotes")
_VOTE_CODES = {"taVotes": "ta", "nilVotes": "nil", "staonVotes": "staon"}


def _slug(text: str) -> str:
    return "".join(c if c.isalnum() else "-" for c in text.lower())


@dataclass
class Member:
    code: str
    first: str
    last: str
    house33: bool
    start34: date
    end34: date | None
    parties: list  # [party_name, start, end]
    constituency: str
    offices: list  # [office_name, start, end]

    @property
    def uri(self) -> str:
        return f"/ie/oireachtas/member/id/{self.code}"

    def membership_uri(self, house: int) -> str:
        return f"{self.uri}/house/dail/{house}"

    def current_on(self, day: date) -> bool:
        return self.start34 <= day and (self.end34 is None
                                        or self.end34 >= day)


@dataclass
class Week:
    """One week's raw payload records (plain dicts)."""
    divisions: list
    debates: list
    questions: list


def _iso(d: date | None):
    return d.isoformat() if d else None


def _member_payload(m: Member) -> dict:
    memberships = []
    if m.house33:
        memberships.append({"membership": {
            "uri": m.membership_uri(33),
            "house": {"houseNo": "33", "houseCode": "dail",
                      "uri": "/ie/oireachtas/house/dail/33"},
            "dateRange": {"start": "2020-02-08", "end": "2024-11-28"},
            "parties": [{"party": {
                "showAs": m.parties[0][0],
                "uri": f"/ie/oireachtas/party/{_slug(m.parties[0][0])}",
                "dateRange": {"start": "2020-02-08",
                              "end": "2024-11-28"}}}],
            "represents": [{"represent": {
                "showAs": m.constituency,
                "uri": f"/ie/oireachtas/constituency/{_slug(m.constituency)}"}}],
            "offices": []}})
    memberships.append({"membership": {
        "uri": m.membership_uri(34),
        "house": {"houseNo": "34", "houseCode": "dail",
                  "uri": "/ie/oireachtas/house/dail/34"},
        "dateRange": {"start": _iso(m.start34), "end": _iso(m.end34)},
        "parties": [{"party": {
            "showAs": name, "uri": f"/ie/oireachtas/party/{_slug(name)}",
            "dateRange": {"start": _iso(s), "end": _iso(e)}}}
            for name, s, e in m.parties],
        "represents": [{"represent": {
            "showAs": m.constituency,
            "uri": f"/ie/oireachtas/constituency/{_slug(m.constituency)}"}}],
        "offices": [{"office": {
            "officeName": {"showAs": name},
            "dateRange": {"start": _iso(s), "end": _iso(e)}}}
            for name, s, e in m.offices]}})
    return {"member": {
        "memberCode": m.code, "uri": m.uri,
        "fullName": f"{m.first} {m.last}", "firstName": m.first,
        "lastName": m.last, "showAs": f"{m.first} {m.last}",
        "gender": "female" if m.first in _FIRST[::2] else "male",
        "memberships": memberships}}


def _speech_xml(debate: dict) -> str:
    persons = "".join(
        f'<TLCPerson eId="P{i}" href="/ie/oireachtas/member/id/{code}/" '
        f'showAs="{name}"/>'
        for i, (code, name) in enumerate(debate["speakers"]))
    body = []
    for s_idx, section in enumerate(debate["sections"]):
        speeches = "".join(
            f'<speech by="#{ref}"><p>{text}</p></speech>'
            for ref, text in section)
        body.append(f'<debateSection name="sect{s_idx}" '
                    f'eId="dbsect_{s_idx}">{speeches}</debateSection>')
    return ('<?xml version="1.0"?><akomaNtoso><references>'
            '<TLCRole eId="Chair" showAs="Ceann Comhairle"/>'
            f'{persons}</references><debate>{"".join(body)}'
            '</debate></akomaNtoso>')


@dataclass
class WeeklyArchive:
    """Both weeks' raw roots plus the expected state after each week."""
    week1_root: str
    week2_root: str
    expected: dict      # week index (1|2) -> {table: rows}
    totals: dict        # week index -> conserved totals
    source_stats: dict  # source stem -> {"rows": n, "bytes": b} (week 1)


class _Gen:
    def __init__(self, seed: int, n_members: int):
        self.rng = random.Random(seed)
        self.n_members = n_members

    # -- roster ------------------------------------------------------------
    def members(self) -> list[Member]:
        rng = self.rng
        out = []
        for i in range(self.n_members):
            party = rng.choice(_PARTIES)
            start = date(2024, 11, 29)
            m = Member(
                code=f"TD{i:04d}", first=rng.choice(_FIRST),
                last=rng.choice(_LAST), house33=rng.random() < 0.35,
                start34=start, end34=None, parties=[[party, start, None]],
                constituency=rng.choice(_CONSTITUENCIES), offices=[])
            out.append(m)
        # offices are planted so silver_member_offices is never empty
        for m in rng.sample(out, max(3, self.n_members // 8)):
            m.offices.append([rng.choice(_OFFICES),
                              date(2025, 1, 23) + timedelta(
                                  days=rng.randrange(60)), None])
        return out

    def week2_roster(self, week1: list[Member]) -> list[Member]:
        """Copy of the roster with week 2's changes applied."""
        rng = self.rng
        roster = [Member(m.code, m.first, m.last, m.house33, m.start34,
                         m.end34, [list(p) for p in m.parties],
                         m.constituency, [list(o) for o in m.offices])
                  for m in week1]
        pool = list(roster)
        rng.shuffle(pool)
        departed = pool.pop()
        departed.end34 = WEEK2_AS_OF - timedelta(days=2)
        for m in pool[:3]:                       # party switches
            m.parties[-1][2] = WEEK2_AS_OF - timedelta(days=4)
            new = rng.choice([p for p in _PARTIES if p != m.parties[-1][0]])
            m.parties.append([new, WEEK2_AS_OF - timedelta(days=3), None])
        holders = [m for m in pool[3:] if m.offices]
        for m in holders[:2]:                    # offices end
            m.offices[-1][2] = WEEK2_AS_OF - timedelta(days=5)
        newcomer = Member(
            code=f"TD{len(week1):04d}", first=rng.choice(_FIRST),
            last=rng.choice(_LAST), house33=False,
            start34=WEEK2_AS_OF - timedelta(days=6), end34=None,
            parties=[[rng.choice(_PARTIES),
                      WEEK2_AS_OF - timedelta(days=6), None]],
            constituency=departed.constituency, offices=[])
        roster.append(newcomer)
        self.departed, self.newcomer = departed.code, newcomer.code
        return roster

    # -- activity ----------------------------------------------------------
    def _days(self, lo: date, hi: date, n: int) -> list[date]:
        span = (hi - lo).days
        return sorted(lo + timedelta(days=self.rng.randrange(span + 1))
                      for _ in range(n))

    def division(self, idx: int, day: date, roster: list[Member],
                 plant: str | None) -> dict:
        rng = self.rng
        tallies = {k: [] for k in _VOTE_KEYS}
        for m in roster:
            if not m.current_on(day):
                continue
            if m.code != plant and rng.random() > 0.85:
                continue
            key = rng.choices(_VOTE_KEYS, weights=(55, 40, 5))[0]
            tallies[key].append(m)
        return {"uri": f"/ie/oireachtas/division/house/dail/34/{day}/"
                       f"vote_{idx}",
                "date": day, "subject": rng.choice(_SUBJECTS),
                "tallies": tallies}

    def debate(self, idx: int, day: date, roster: list[Member]) -> dict:
        rng = self.rng
        present = [m for m in roster if m.current_on(day)]
        speakers = rng.sample(present, min(len(present),
                                           rng.randint(6, 12)))
        refs = [(m.code, f"{m.first} {m.last}") for m in speakers]
        sections = []
        for _ in range(rng.randint(2, 4)):
            speeches = []
            for _ in range(rng.randint(3, 8)):
                # one speech in ~8 is the chair's: no member code, so the
                # marts must leave it out of every member count
                ref = ("Chair" if rng.random() < 0.12
                       else f"P{rng.randrange(len(refs))}")
                words = " ".join(rng.choice(_WORDS)
                                 for _ in range(rng.randint(8, 30)))
                speeches.append((ref, words))
            sections.append(speeches)
        return {"uri": f"/ie/oireachtas/debateRecord/dail/{day}/debate/"
                       f"d{idx}",
                "date": day, "speakers": refs, "sections": sections}

    def question(self, idx: int, day: date, roster: list[Member]) -> dict:
        present = [m for m in roster if m.current_on(day)]
        by = self.rng.choice(present)
        return {"uri": f"/ie/oireachtas/question/{day}/pq_{idx}",
                "date": day, "by": by.code,
                "to": self.rng.choice(_OFFICES),
                "text": " ".join(self.rng.choice(_WORDS) for _ in range(12))}


def _division_payload(d: dict) -> dict:
    return {"division": {
        "uri": d["uri"], "date": d["date"].isoformat(),
        "voteId": d["uri"].rsplit("/", 1)[-1],
        "house": {"houseNo": "34", "houseCode": "dail",
                  "uri": "/ie/oireachtas/house/dail/34"},
        "subject": {"showAs": d["subject"]},
        "outcome": ("Carried" if len(d["tallies"]["taVotes"])
                    >= len(d["tallies"]["nilVotes"]) else "Lost"),
        "tallies": {k: {
            "showAs": _VOTE_CODES[k].title(), "tally": len(ms),
            "members": [{"member": {
                "memberCode": m.code, "uri": m.uri,
                "showAs": f"{m.first} {m.last}",
                "constituency": {"showAs": m.constituency}}}
                for m in ms]} for k, ms in d["tallies"].items()}}}


def _debate_payload(d: dict) -> dict:
    day = d["date"].isoformat()
    return {"contextDate": day, "debateRecord": {
        "uri": d["uri"], "date": day,
        "house": {"houseNo": "34", "houseCode": "dail",
                  "uri": "/ie/oireachtas/house/dail/34"},
        "formats": {"xml": {"uri": d["uri"] + "/main.xml"},
                    "pdf": {"uri": d["uri"] + "/main.pdf"}},
        "debateSections": [{"debateSection": {
            "uri": f"{d['uri']}/dbsect_{i}",
            "debateSectionId": f"dbsect_{i}",
            "showAs": f"Section {i}"}}
            for i in range(len(d["sections"]))]}}


def _question_payload(q: dict) -> dict:
    return {"contextDate": q["date"].isoformat(), "question": {
        "uri": q["uri"], "date": q["date"].isoformat(),
        "questionNumber": q["uri"].rsplit("_", 1)[-1],
        "questionType": "written", "showAs": q["text"],
        "by": {"memberCode": q["by"], "showAs": q["by"]},
        "to": {"showAs": q["to"]},
        "debateSection": {"uri": q["uri"] + "/section",
                          "formats": {"xml": {"uri": q["uri"] + ".xml"}}}}}


def _write_pages(path: str, items: list) -> tuple[int, int]:
    with open(path, "w", encoding="utf-8") as fh:
        for i in range(0, len(items), PAGE_SIZE):
            fh.write(json.dumps({"results": items[i:i + PAGE_SIZE]},
                                sort_keys=True) + "\n")
    return len(items), os.path.getsize(path)


def _write_week(root: str, roster: list[Member], week: Week) -> dict:
    os.makedirs(root, exist_ok=True)
    stats = {}
    stats["members"] = _write_pages(
        os.path.join(root, "members.jsonl"),
        [_member_payload(m) for m in roster])
    stats["divisions"] = _write_pages(
        os.path.join(root, "divisions.jsonl"),
        [_division_payload(d) for d in week.divisions])
    stats["debates"] = _write_pages(
        os.path.join(root, "debates.jsonl"),
        [_debate_payload(d) for d in week.debates])
    stats["questions"] = _write_pages(
        os.path.join(root, "questions.jsonl"),
        [_question_payload(q) for q in week.questions])
    xml_path = os.path.join(root, "debate_xml.jsonl")
    with open(xml_path, "w", encoding="utf-8") as fh:
        for d in week.debates:
            fh.write(json.dumps({
                "debate_id": d["uri"], "debate_date": d["date"].isoformat(),
                "xml_uri": d["uri"] + "/main.xml",
                "xml_url": "https://data.oireachtas.ie" + d["uri"]
                           + "/main.xml",
                "xml": _speech_xml(d)}, sort_keys=True) + "\n")
    stats["debate_xml"] = (len(week.debates), os.path.getsize(xml_path))
    return {k: {"rows": r, "bytes": b} for k, (r, b) in stats.items()}


# -- the model ---------------------------------------------------------------

def _subdim_keys(roster: list[Member], kind: str) -> set:
    """Identity of each party / constituency / office row: (membership,
    entry, start) — the row id ignores the end date, so an interval whose
    end moved updates its row instead of adding one."""
    keys = set()
    for m in roster:
        if kind == "party":
            if m.house33:
                keys.add((m.membership_uri(33), m.parties[0][0],
                          "2020-02-08"))
            keys.update((m.membership_uri(34), p, _iso(s))
                        for p, s, _e in m.parties)
        elif kind == "constituency":
            if m.house33:
                keys.add((m.membership_uri(33), m.constituency,
                          "2020-02-08"))
            keys.add((m.membership_uri(34), m.constituency, _iso(m.start34)))
        else:
            keys.update((m.membership_uri(34), o, _iso(s))
                        for o, s, _e in m.offices)
    return keys


def _week_model(roster: list[Member], divisions: dict, debates: dict,
                questions: dict, as_of: date) -> tuple[dict, dict]:
    """Expected rows per table after a week, from the union of everything
    delivered so far (upsert keeps one row per key) and this week's roster
    (snapshot_replace)."""
    current = {m.code for m in roster if m.current_on(as_of)}
    cons_of = {m.code: m.constituency for m in roster}
    votes = [(m.code, d["date"]) for d in divisions.values()
             for ms in d["tallies"].values() for m in ms]
    speeches = []
    n_speech_rows = 0
    for d in debates.values():
        for section in d["sections"]:
            for ref, _text in section:
                n_speech_rows += 1
                if ref != "Chair":
                    speeches.append((d["speakers"][int(ref[1:])][0],
                                     d["date"]))
    codes = current | {c for c, _ in votes} | {c for c, _ in speeches}
    years = ({str(day.year) for _, day in votes + speeches}
             | {str(d["date"].year) for d in divisions.values()})
    months = {day.strftime("%Y-%m") for _, day in votes + speeches}
    # constituency lookup: roster first for current members, else the
    # constituency carried on the member's vote rows
    lookup = {c: cons_of[c] for c in current}
    for c, _ in votes:
        lookup.setdefault(c, cons_of[c])
    cons_names = ({cons_of[c] for c in current}
                  | {lookup[c] for c, _ in speeches if c in lookup}
                  | {cons_of[c] for c, _ in votes})
    cons_years = {str(day.year) for _, day in votes}
    cons_years |= {str(day.year) for c, day in speeches if c in lookup}
    n_yearly = len(codes) * len(years)
    n_monthly = len(codes) * len(months)
    n_cons = len(cons_names) * len(cons_years)
    expected = {
        "silver_members": len(roster),
        "silver_member_memberships": sum(1 + m.house33 for m in roster),
        "silver_member_parties": len(_subdim_keys(roster, "party")),
        "silver_member_constituencies": len(
            _subdim_keys(roster, "constituency")),
        "silver_member_offices": len(_subdim_keys(roster, "office")),
        "silver_debate_records": len(debates),
        "silver_debate_sections": sum(len(d["sections"])
                                      for d in debates.values()),
        "silver_speeches": n_speech_rows,
        "silver_divisions": len(divisions),
        "silver_division_tallies": 3 * len(divisions),
        "silver_member_votes": len(votes),
        "silver_questions": len(questions),
        "gold_current_members": len(current),
        "gold_member_activity_yearly": n_yearly,
        "gold_member_activity_monthly": n_monthly,
        "gold_constituency_activity_yearly": n_cons,
        "gold_content_fact_pool": 2 * (n_yearly + n_monthly + n_cons),
    }
    totals = {
        "votes": len(votes),
        "votes_current": sum(1 for c, _ in votes if c in current),
        "speeches": len(speeches),
        "speeches_with_constituency": sum(1 for c, _ in speeches
                                          if c in lookup),
        "divisions": len(divisions),
    }
    return expected, totals


def generate(out_dir: str, seed: int, n_members: int = 60,
             n_divisions: int = 45, n_debates: int = 30,
             n_questions: int = 45) -> WeeklyArchive:
    """Write ``out_dir/week1`` and ``out_dir/week2`` and return the model.
    The same arguments always write byte-identical files."""
    g = _Gen(seed, n_members)
    roster1 = g.members()
    # week 1: a backfill archive from HISTORY_START to the first as_of
    div_days = g._days(HISTORY_START, WEEK1_AS_OF, n_divisions)
    divisions1 = [g.division(i, d, roster1, None)
                  for i, d in enumerate(div_days)]
    deb_days = g._days(HISTORY_START, WEEK1_AS_OF, n_debates)
    debates1 = [g.debate(i, d, roster1) for i, d in enumerate(deb_days)]
    q_days = g._days(HISTORY_START, WEEK1_AS_OF, n_questions)
    questions1 = [g.question(i, d, roster1) for i, d in enumerate(q_days)]

    roster2 = g.week2_roster(roster1)
    overlap = WEEK2_AS_OF - timedelta(days=OVERLAP_DAYS)
    new_lo = WEEK1_AS_OF + timedelta(days=1)
    n_new = max(2, n_divisions // 15)
    divisions2 = [d for d in divisions1 if d["date"] >= overlap]
    for i, d in enumerate(g._days(new_lo, WEEK2_AS_OF, n_new)):
        # the departed member votes in the first new division, so the
        # constituency lookup's vote-row fallback has work to do
        divisions2.append(g.division(n_divisions + i, d, roster2,
                                     g.departed if i == 0 else None))
    debates2 = [d for d in debates1 if d["date"] >= overlap]
    debates2 += [g.debate(n_debates + i, d, roster2) for i, d in
                 enumerate(g._days(new_lo, WEEK2_AS_OF,
                                   max(2, n_debates // 10)))]
    questions2 = [q for q in questions1 if q["date"] >= overlap]
    questions2 += [g.question(n_questions + i, d, roster2) for i, d in
                   enumerate(g._days(new_lo, WEEK2_AS_OF,
                                     max(2, n_questions // 10)))]

    week1 = Week(divisions1, debates1, questions1)
    week2 = Week(divisions2, debates2, questions2)
    root1 = os.path.join(out_dir, "week1")
    root2 = os.path.join(out_dir, "week2")
    stats = _write_week(root1, roster1, week1)
    _write_week(root2, roster2, week2)

    by_uri = lambda items: {x["uri"]: x for x in items}  # noqa: E731
    exp1, tot1 = _week_model(roster1, by_uri(divisions1), by_uri(debates1),
                             by_uri(questions1), WEEK1_AS_OF)
    exp2, tot2 = _week_model(
        roster2, by_uri(divisions1 + divisions2),
        by_uri(debates1 + debates2), by_uri(questions1 + questions2),
        WEEK2_AS_OF)
    return WeeklyArchive(root1, root2, {1: exp1, 2: exp2},
                         {1: tot1, 2: tot2}, stats)

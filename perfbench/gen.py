"""Seeded input generator for the benchmark's `etl` workload.

`jira_batches` writes JIRA-shaped JSON-lines batches and returns the
load's expected result, computed here from the reference formula,
independently of the engine. The same seed always gives byte-identical
files. The catalog workloads read the fixed tables in fixtures/ instead.
"""
import datetime
import json
import os

import numpy as np

WORDS = ("a agg batch big column customer data fast filter group hash join key line merge "
         "order part query row scan slow small sort spark stream table the value vector window").split()

US_PER_DAY = 86_400_000_000
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in epoch microseconds


ESTIMATE_FIELDS = ["customfield_14604", "customfield_14600", "customfield_14607",
                   "customfield_14603", "customfield_14602", "customfield_14601"]


def _iso(us):
    days, rem = divmod(int(us), US_PER_DAY)
    t = datetime.datetime(1970, 1, 1) + datetime.timedelta(days=days, microseconds=rem)
    return t.strftime("%Y-%m-%dT%H:%M:%S.000+0000")


def jira_batches(out_dir, seed, n_batches, issues_per_batch):
    """Write `n_batches` JIRA-shaped input batches under `out_dir` and
    return (batch dirs, expected load result, counts, issue summaries).
    The expected result maps each loaded key to its delta and counts
    the users and projects the dimensions must hold afterwards.

    Each batch has issues.jsonl (search payload), worklogs.jsonl,
    details.jsonl (linked-issue details) and errored.jsonl (keys whose
    supplemental fetch failed). The null traps of the reference are all
    present: empty worklog arrays, all-zero estimates, links without
    worklogs, non-feasibility link types, and an errored fraction below
    the 20% quality gate. Later batches reuse most users and projects
    and add a few new ones, so the dimension get-or-create path both
    resolves and grows.
    """
    rng = np.random.default_rng(seed + 7919)
    os.makedirs(out_dir, exist_ok=True)
    expected = {}  # key -> delta (None when the falsy guard nulls it)
    loaded_users, loaded_projects = set(), set()
    counts = {"issues": 0, "links": 0, "worklogs": 0, "errored": 0}
    dirs, summaries = [], []
    for b in range(n_batches):
        users = [f"user{u}" for u in range(8 + 4 * b)]
        projects = [f"PROJ{p}" for p in range(3 + b)]
        issues, worklogs, details, errored = [], [], [], []
        for i in range(issues_per_batch):
            key = f"FEAS-{b}-{i}"
            hours = [None if rng.random() < 0.2 else float(rng.integers(0, 40)) / 4
                     for _ in ESTIMATE_FIELDS]
            if rng.random() < 0.08:
                hours = [0.0 if h is not None else None for h in hours]
            links, linked_total, has_feas_link = [], 0, False
            for j in range(int(rng.integers(0, 5))):
                lkey = f"DEV-{b}-{i}-{j}"
                type_id = "10211" if rng.random() < 0.8 else str(rng.choice(["10200", "999"]))
                side = "outwardIssue" if rng.random() < 0.5 else "inwardIssue"
                links.append({"type": {"id": type_id}, side: {"key": lkey, "fields": {
                    "summary": f"dev work {lkey}", "status": {"name": "Done"},
                    "issuetype": {"name": "Development"}}}})
                counts["links"] += 1
                r = rng.random()
                if r < 0.25:
                    entries = None  # no worklog row at all
                elif r < 0.4:
                    entries = []  # empty worklog array
                else:
                    entries = [int(rng.integers(1, 48)) * 900 for _ in range(int(rng.integers(1, 4)))]
                if entries is not None:
                    worklogs.append({"key": lkey, "worklogs": [
                        {"author": {"name": str(rng.choice(users))}, "timeSpentSeconds": s,
                         "id": f"{lkey}-w{n}"} for n, s in enumerate(entries)]})
                    counts["worklogs"] += len(entries)
                details.append({"key": lkey, "fields": {
                    "customfield_12501": {"name": str(rng.choice(users))},
                    "reporter": {"name": str(rng.choice(users))},
                    "project": {"key": str(rng.choice(projects))},
                    "created": _iso(EPOCH_2024 + int(rng.integers(0, 300)) * US_PER_DAY),
                    "resolution": {"name": "Done"},
                    "resolutiondate": _iso(EPOCH_2024 + int(rng.integers(300, 400)) * US_PER_DAY)}})
                if type_id == "10211":
                    has_feas_link = True
                    linked_total += sum(entries or [])
            own = [int(rng.integers(1, 20)) * 600 for _ in range(int(rng.integers(0, 3)))]
            worklogs.append({"key": key, "worklogs": [
                {"author": {"name": str(rng.choice(users))}, "timeSpentSeconds": s,
                 "id": f"{key}-w{n}"} for n, s in enumerate(own)]})
            counts["worklogs"] += len(own)
            created = EPOCH_2024 + int(rng.integers(0, 300)) * US_PER_DAY
            fields = {
                "summary": f"feasibility {key} " + " ".join(rng.choice(WORDS, 6)),
                "customfield_12501": {"name": str(rng.choice(users))},
                "reporter": {"name": str(rng.choice(users))},
                "project": {"key": str(rng.choice(projects))},
                "created": _iso(created),
                "resolutiondate": None if rng.random() < 0.3 else _iso(created + 30 * US_PER_DAY),
                "issuelinks": links}
            fields.update(dict(zip(ESTIMATE_FIELDS, hours)))
            issues.append({"key": key, "fields": fields})
            summaries.append(fields["summary"])
            counts["issues"] += 1
            if rng.random() < 0.05:
                errored.append({"key": key})
                counts["errored"] += 1
                continue
            # The reference delta (helpers.js:309-321): estimates in
            # seconds, null -> 0; linked time is null without feasibility
            # links; a zero or null operand nulls the delta.
            loaded_users.update([fields["customfield_12501"]["name"], fields["reporter"]["name"]])
            loaded_projects.add(fields["project"]["key"])
            total = sum((h or 0.0) * 3600.0 for h in hours)
            linked = float(linked_total) if has_feas_link else None
            expected[key] = None if not total or not linked else total - linked
        d = os.path.join(out_dir, f"batch{b}")
        os.makedirs(d, exist_ok=True)
        for name, rows in [("issues", issues), ("worklogs", worklogs),
                           ("details", details), ("errored", errored)]:
            with open(os.path.join(d, f"{name}.jsonl"), "w") as f:
                f.write("".join(json.dumps(r, sort_keys=True) + "\n" for r in rows))
        dirs.append(d)
    return dirs, {"deltas": expected, "users": len(loaded_users),
                  "projects": len(loaded_projects)}, counts, summaries

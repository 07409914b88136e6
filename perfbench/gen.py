"""Seeded input generators for the warehouse benchmark.

Two families, both pure functions of their seed (same seed -> same bytes):

* ``daily_batches``: dirty HR / Finance / Operations CSV
  extracts in the reference's raw layout (FIXTURES.md sections 1-3), with an
  expected-counts manifest derived from how each dirtiness class is cleaned.
  Every row is modelled as its *cleaned* value plus a raw rendering, so the
  manifest counts (staged rows, DQ-log rows per issue, FK misses, SCD2
  changes, appended fact rows, watermarks) are known without running Spark.
* ``star``: a TPC-H-ish star (region, nation, customer, supplier, part,
  orders, lineitem, events, documents, embeddings) written as parquet with
  the same column names and physical types as the harness testdata, so the
  KPI views and the registry queries run on it unchanged.
"""

import datetime as _dt
import json
import os
import random

DEPTS = ["SALES", "FINANCE", "HR", "IT", "OPERATIONS", "MARKETING",
         "ENGINEERING", "SUPPORT", "LOGISTICS", "RESEARCH"]
OPS_ONLY_DEPTS = ["LEGAL"]
EXPENSE_TYPES = ["Travel", "Meals", "Supplies", "Training", "Software"]
PROCESSES = ["ASSEMBLY", "PACKAGING", "QUALITY CHECK", "SHIPPING",
             "MAINTENANCE", "INVENTORY", "BILLING", "ONBOARDING"]
# "Remot Site A" is the reference's uncorrected typo: a distinct location
LOCATIONS = ["PLANT A", "PLANT B", "WAREHOUSE 1", "HQ", "REMOTE SITE A",
             "Remot Site A"]
FIRST = ["Ava", "Ben", "Chen", "Dara", "Eli", "Fay", "Gus", "Hana", "Ivo",
         "Jia", "Kai", "Lena", "Milo", "Nia", "Omar", "Pia"]
LAST = ["Smith", "Ng", "Garcia", "Okafor", "Novak", "Ito", "Silva", "Khan"]

FK_MISS_BASE = 900000
BASE_DAY = _dt.date(2023, 1, 1)
BASE_DAYS = 365                      # base facts span 2023
FIRST_BATCH_DAY = _dt.date(2024, 1, 1)

HR_COLS = ["EmployeeID", "Name", "Department", "Gender", "DateOfJoining",
           "ManagerID", "Salary", "Status"]
FIN_COLS = ["EmployeeID", "ExpenseType", "ExpenseAmount", "ExpenseDate",
            "ApprovedBy"]
OPS_COLS = ["Department", "ProcessName", "DowntimeHours", "ProcessDate",
            "Location"]


def _iso(d):
    return d.isoformat()


class _Rng:
    """random.Random restricted to .random(): its output stream is stable
    across Python releases, unlike randrange/choice internals."""

    def __init__(self, seed):
        self._r = random.Random(seed)

    def p(self, prob):
        return self._r.random() < prob

    def below(self, n):
        return int(self._r.random() * n)

    def pick(self, seq):
        return seq[self.below(len(seq))]


def _render_date(rng, d):
    # dd-MM-yyyy is a clean variant: Cleaning.dateSafe parses both formats
    return d.strftime("%d-%m-%Y") if rng.p(0.05) else _iso(d)


def _render_upper(rng, v):
    return rng.pick([v, v.lower(), v.title(), " %s " % v])


class _Counts:
    def __init__(self):
        self.dq = {}

    def log(self, table, issue, n=1):
        t = self.dq.setdefault(table, {})
        t[issue] = t.get(issue, 0) + n


# --------------------------------------------------------------------- HR
def _hr_row(rng, emp, dirty, counts, line_no):
    """Render one HR row; returns (raw fields, cleaned record). `emp` holds
    the employee's intended clean attributes."""
    cl = dict(emp)
    raw = {}
    if dirty and emp.get("allow_missing_id") and rng.p(0.005):
        raw["EmployeeID"] = ""
        cl["employee_id"] = "TEMP_%d" % line_no
        counts.log("staging_employee", "missing_employee_id")
    else:
        raw["EmployeeID"] = emp["employee_id"]
    if dirty and rng.p(0.005):
        raw["Name"] = ""
        cl["name"] = "EMP_" + cl["employee_id"]
        counts.log("staging_employee", "missing_name")
    else:
        raw["Name"] = emp["name"]
    if dirty and rng.p(0.01):
        raw["Department"] = rng.pick(["", "NaN", "null"])
        cl["department"] = "UNASSIGNED_DEPT"
        counts.log("staging_employee", "missing_department")
    else:
        raw["Department"] = _render_upper(rng, emp["department"])
    if dirty and rng.p(0.01):
        raw["Gender"] = rng.pick(["", "X", "Other"])
        cl["gender"] = "UNKNOWN"
        counts.log("staging_employee", "unknown_gender")
    else:
        raw["Gender"] = rng.pick({"M": ["M", "m", "Male", "MALE"],
                                  "F": ["F", "f", "Female", "female"]}[emp["gender"]])
    if dirty and rng.p(0.01):
        raw["DateOfJoining"] = rng.pick(["", "2019/13/45", "unknown"])
        cl["date_of_joining"] = None
        counts.log("staging_employee", "invalid_date")
    else:
        raw["DateOfJoining"] = _render_date(rng, emp["date_of_joining"])
    if dirty and rng.p(0.02):
        raw["ManagerID"] = rng.pick(["", "nan", "NULL"])
        cl["manager_id"] = "UNKNOWN"
        counts.log("staging_employee", "missing_manager")
    else:
        m = emp["manager_id"]
        raw["ManagerID"] = m + ".0" if rng.p(0.5) else m
    if dirty and rng.p(0.01):
        if rng.p(0.7):
            raw["Salary"] = "-%s" % emp["salary"]
        else:
            raw["Salary"] = "abc"
            cl["salary"] = None
        counts.log("staging_employee", "invalid_or_negative_salary")
    else:
        raw["Salary"] = emp["salary"]
    if dirty and rng.p(0.01):
        raw["Status"] = rng.pick(["", "On Leave"])
        cl["status"] = "Unknown"
        counts.log("staging_employee", "unknown_status")
    else:
        raw["Status"] = rng.pick({"Active": ["Active", "ACTIVE", "active"],
                                  "Resigned": ["Resigned", "RESIGNED"]}[emp["status"]])
    return raw, cl


def _new_employee(rng, eid):
    return {
        "employee_id": str(eid),
        "name": "%s %s %d" % (rng.pick(FIRST), rng.pick(LAST), eid),
        "department": rng.pick(DEPTS),
        "gender": rng.pick(["M", "F"]),
        "date_of_joining": BASE_DAY - _dt.timedelta(days=30 + rng.below(3000)),
        "manager_id": str(1000 + rng.below(400)),
        "salary": "%d.%02d" % (30000 + rng.below(90000), rng.below(100)),
        "status": "Active" if rng.p(0.85) else "Resigned",
    }


TRACKED = ("name", "department", "gender", "date_of_joining", "manager_id")


def _hr_file(rng, emps, counts):
    """Rows of the full (nightly) HR extract: every dirtiness class, 1 %
    duplicated rows. Returns (lines, staged cleaned records)."""
    lines, staged = [], []
    dups = []
    n = 0
    for e in emps:
        e = dict(e, allow_missing_id=True)
        n += 1
        raw, cl = _hr_row(rng, e, True, counts, n)
        lines.append(raw)
        staged.append(cl)
        # TEMP ids are positional, so a missing-id row has no exact twin
        if raw["EmployeeID"] and rng.p(0.01):
            dups.append((raw, cl))
    for raw, cl in dups:
        lines.append(raw)
        # the twin is logged again by every rule it violates, then dropped
        for issue in _issues_of(cl, raw):
            counts.log("staging_employee", issue)
        counts.log("staging_employee", "duplicate_row")
    return lines, staged


def _issues_of(cl, raw):
    """DQ issues an HR row logs (re-derived for duplicated twins)."""
    out = []
    if raw["Name"] == "":
        out.append("missing_name")
    if cl["department"] == "UNASSIGNED_DEPT":
        out.append("missing_department")
    if cl["gender"] == "UNKNOWN":
        out.append("unknown_gender")
    if cl["date_of_joining"] is None:
        out.append("invalid_date")
    if cl["manager_id"] == "UNKNOWN":
        out.append("missing_manager")
    if raw["Salary"].startswith("-") or raw["Salary"] == "abc":
        out.append("invalid_or_negative_salary")
    if cl["status"] == "Unknown":
        out.append("unknown_status")
    return out


# ---------------------------------------------------------------- Finance
def _fin_row(rng, eid, day, counts, uniq, dirty=True):
    """One finance row; `uniq` makes the amount unique so distinct rows
    never collide in the full-row dedup."""
    cl = {"employee_id": eid}
    raw = {"EmployeeID": eid}
    if dirty and rng.p(0.01):
        raw["ExpenseType"] = rng.pick(["", " "])
        cl["expense_type"] = "Unknown"
        counts.log("staging_finance", "missing_expense_type")
    else:
        t = rng.pick(EXPENSE_TYPES)
        cl["expense_type"] = t
        if t == "Travel" and rng.p(0.2):
            raw["ExpenseType"] = "Travell"     # silently remapped, not logged
        else:
            raw["ExpenseType"] = rng.pick([t, t.lower(), t.upper(), " %s " % t])
    cents = 500 + uniq
    refund = rng.p(0.03)
    if dirty and rng.p(0.005):
        raw["ExpenseAmount"] = rng.pick(["n/a", ""])
        cl["expense_amount"] = "0.00"
        cl["is_refund"] = False
        counts.log("staging_finance", "invalid_amount")
    else:
        amt = "%s%d.%02d" % ("-" if refund else "", cents // 100, cents % 100)
        raw["ExpenseAmount"] = amt
        cl["expense_amount"] = amt
        cl["is_refund"] = refund
    if dirty and rng.p(0.005):
        raw["ExpenseDate"] = rng.pick(["", "31/31/2023"])
        cl["expense_date"] = None
        counts.log("staging_finance", "invalid_date")
    else:
        raw["ExpenseDate"] = _render_date(rng, day)
        cl["expense_date"] = day
    if dirty and rng.p(0.02):
        raw["ApprovedBy"] = rng.pick(["", "NaN", "null"])
        cl["approved_by"] = "UNKNOWN"
        counts.log("staging_finance", "missing_approver")
    else:
        m = str(1000 + rng.below(400))
        raw["ApprovedBy"] = m + ".0" if rng.p(0.5) else m
        cl["approved_by"] = m
    return raw, cl


def _blank(v):
    """The pipeline's missing-value test: ''/NAN/NULL after trim."""
    return v.strip().upper() in ("", "NAN", "NULL")


def _fin_issues(raw):
    """DQ issues a finance row logs, from its raw rendering (a replayed row
    renders its cleaned values, e.g. ApprovedBy UNKNOWN, which log nothing)."""
    out = []
    if raw["ExpenseType"].strip() == "":
        out.append("missing_expense_type")
    if raw["ExpenseAmount"] in ("n/a", ""):
        out.append("invalid_amount")
    if raw["ExpenseDate"] in ("", "31/31/2023"):
        out.append("invalid_date")
    if _blank(raw["ApprovedBy"]):
        out.append("missing_approver")
    return out


# ------------------------------------------------------------- Operations
def _ops_row(rng, day, counts, uniq, dirty=True):
    cl, raw = {}, {}
    if dirty and rng.p(0.01):
        raw["Department"] = rng.pick(["", "nan"])
        cl["department_name"] = "UNASSIGNED_DEPT"
        counts.log("staging_operations", "missing_department")
    else:
        d = rng.pick(DEPTS + OPS_ONLY_DEPTS)
        raw["Department"] = _render_upper(rng, d)
        cl["department_name"] = d
    if dirty and rng.p(0.01):
        raw["ProcessName"] = rng.pick(["", "NULL"])
        cl["process_name"] = "UNKNOWN_PROCESS"
        counts.log("staging_operations", "missing_process")
    else:
        p = rng.pick(PROCESSES)
        raw["ProcessName"] = _render_upper(rng, p)
        cl["process_name"] = p
    if dirty and rng.p(0.01):
        raw["Location"] = rng.pick(["", "NaN"])
        cl["location_name"] = "UNKNOWN_LOCATION"
        counts.log("staging_operations", "missing_location")
    else:
        loc = rng.pick(LOCATIONS)
        raw["Location"] = _render_upper(rng, loc)
        cl["location_name"] = loc.upper()
    if dirty and rng.p(0.02):
        raw["DowntimeHours"] = rng.pick(["", "abc"])
        cl["downtime_hours"] = None            # group-mean imputed
        counts.log("staging_operations", "imputed_downtime")
    else:
        h = "%d.%02d" % (uniq // 100 % 200, uniq % 100)
        raw["DowntimeHours"] = h
        cl["downtime_hours"] = h
    if dirty and rng.p(0.01):
        raw["ProcessDate"] = rng.pick(["", "bad-date"])
        cl["process_date"] = _dt.date(1957, 1, 1)   # Ops fallback date
        counts.log("staging_operations", "invalid_date")
    else:
        raw["ProcessDate"] = _render_date(rng, day)
        cl["process_date"] = day
    return raw, cl


def _ops_issues(raw):
    """DQ issues an operations row logs, from its raw rendering."""
    out = []
    if _blank(raw["Department"]):
        out.append("missing_department")
    if _blank(raw["ProcessName"]):
        out.append("missing_process")
    if _blank(raw["Location"]):
        out.append("missing_location")
    if raw["ProcessDate"] in ("", "bad-date"):
        out.append("invalid_date")
    if raw["DowntimeHours"] in ("", "abc"):
        out.append("imputed_downtime")
    return out


# ------------------------------------------------------------ file output
def _write_csv(path, cols, rows):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(",".join(cols) + "\n")
        for r in rows:
            f.write(",".join(r[c] for c in cols) + "\n")
    return os.path.getsize(path)


def _fact_key_fin(cl):
    return (cl["employee_id"], cl["expense_type"], cl["expense_amount"],
            cl["expense_date"], cl["approved_by"])


def _fact_key_ops(cl):
    return (cl["department_name"], cl["process_name"], cl["location_name"],
            cl["downtime_hours"], cl["process_date"])


class _State:
    """Warehouse state the manifest tracks across loads."""

    def __init__(self):
        self.dim_current = {}        # employee_id -> tracked tuple
        self.dim_total = 0
        self.emp_keys = set()        # ids in the employee key dimension
        self.wm = {"fact_expenses": None, "fact_downtime": None}
        self.fact_rows = {"fact_expenses": 0, "fact_downtime": 0}
        self.last_day_rows = {"fact_expenses": [], "fact_downtime": []}


def _apply_load(state, hr_staged, fin_lines, ops_lines, counts):
    """Advance `state` through one load and return its manifest section."""
    # --- staging (dedup is full-row; distinct rows never collide)
    fin_staged, seen = [], set()
    for raw, cl in fin_lines:
        k = tuple(sorted((a, str(b)) for a, b in cl.items()))
        if k in seen:
            for issue in _fin_issues(raw):
                counts.log("staging_finance", issue)
            counts.log("staging_finance", "duplicate_row")
            continue
        seen.add(k)
        fin_staged.append(cl)
    ops_staged = [cl for _, cl in ops_lines]

    # --- SCD2 over the employee snapshot
    fresh = expired = 0
    for cl in hr_staged:
        t = tuple(str(cl[a]) for a in TRACKED)
        cur = state.dim_current.get(cl["employee_id"])
        if cur is None:
            fresh += 1
        elif cur != t:
            fresh += 1
            expired += 1
        state.dim_current[cl["employee_id"]] = t
    state.dim_total += fresh
    state.emp_keys.update(cl["employee_id"] for cl in hr_staged)

    # --- FK check + incremental appends
    facts = {}
    for table, staged, fk_ok, key, part in (
            ("fact_expenses", fin_staged,
             lambda c: c["employee_id"] in state.emp_keys, _fact_key_fin,
             "expense_date"),
            ("fact_downtime", ops_staged, lambda c: True, _fact_key_ops,
             "process_date")):
        enriched = [c for c in staged if fk_ok(c)]
        misses = len(staged) - len(enriched)
        if misses:
            counts.log(table, "fk_miss", misses)
        with_part = [c for c in enriched if c[part] is not None]
        wm = state.wm[table]
        fresh_rows = [c for c in with_part if wm is None or c[part] >= wm]
        if wm is None:
            appended = fresh_rows
        else:
            # tail anti-dedup: drop rows equal to a stored row dated >= wm
            # (replays; imputed rows are never replayed, and rows dated
            # after wm cannot match a stored one)
            tail = {key(c) for c in state.last_day_rows[table]}
            appended = [c for c in fresh_rows if key(c) not in tail]
        if appended:
            mx = max(c[part] for c in appended)
            state.wm[table] = mx if wm is None or mx > wm else wm
            new_wm = state.wm[table]
            keep = [c for c in state.last_day_rows[table] if c[part] >= new_wm]
            state.last_day_rows[table] = keep + [
                c for c in appended if c[part] >= new_wm]
        state.fact_rows[table] += len(appended)
        facts[table] = {
            "candidates": len(enriched),
            "null_partition": len(enriched) - len(with_part),
            "above_watermark": len(fresh_rows),
            "appended": len(appended),
            "watermark": _iso(state.wm[table]) if state.wm[table] else None,
            "total_rows": state.fact_rows[table],
        }
    return {
        "staged": {"staging_employee": len(hr_staged),
                   "staging_finance": len(fin_staged),
                   "staging_operations": len(ops_staged)},
        "dq": counts.dq,
        "scd2": {"fresh": fresh, "expired": expired,
                 "current": len(state.dim_current), "total": state.dim_total},
        "facts": facts,
        "employee_keys": len(state.emp_keys),
    }


def _base_load(rng, out_dir, n_emp, n_fin, n_ops, state):
    """Full dirty extract (the nightly load input)."""
    os.makedirs(out_dir, exist_ok=True)
    counts = _Counts()
    emps = [_new_employee(rng, 100000 + i) for i in range(n_emp)]
    hr_lines, hr_staged = _hr_file(rng, emps, counts)
    ids = [c["employee_id"] for c in hr_staged
           if not c["employee_id"].startswith("TEMP_")]
    uniq = [0]

    def nxt():
        uniq[0] += 1
        return uniq[0]

    def day_of(i, n):
        # every day of the year is covered; the last day always has rows
        return BASE_DAY + _dt.timedelta(days=(i * BASE_DAYS) // n)

    fin = []
    invalid_amount_emps = iter(ids)
    for i in range(n_fin):
        miss = rng.p(0.01)
        # FK-miss ids are unique, like every other row's amount
        eid = str(FK_MISS_BASE + nxt()) if miss else rng.pick(ids)
        raw, cl = _fin_row(rng, eid, day_of(i, n_fin), counts, nxt())
        if raw["ExpenseAmount"] in ("n/a", "") and not miss:
            # invalid amounts all clean to 0.00: give each its own employee
            # so two of them can never collide in the full-row dedup
            raw["EmployeeID"] = cl["employee_id"] = next(invalid_amount_emps)
        fin.append((raw, cl))
    fin += [fin[rng.below(len(fin))] for _ in range(n_fin // 100)]
    ops = [_ops_row(rng, day_of(i, n_ops), counts, nxt()) for i in range(n_ops)]
    # Operations has no staging dedup: duplicate lines stay (both appended)
    ops += [ops[rng.below(len(ops))] for _ in range(n_ops // 100)]
    for raw, cl in ops[n_ops:]:
        for issue in _ops_issues(raw):
            counts.log("staging_operations", issue)

    sizes = {
        "HR_Dataset_Dirty.csv": _write_csv(
            os.path.join(out_dir, "HR_Dataset_Dirty.csv"), HR_COLS, hr_lines),
        "Finance_Dataset_Dirty.csv": _write_csv(
            os.path.join(out_dir, "Finance_Dataset_Dirty.csv"), FIN_COLS,
            [r for r, _ in fin]),
        "Operations_Dataset_Dirty.csv": _write_csv(
            os.path.join(out_dir, "Operations_Dataset_Dirty.csv"), OPS_COLS,
            [r for r, _ in ops]),
    }
    m = _apply_load(state, hr_staged, fin, ops, counts)
    m["raw_rows"] = len(hr_lines) + len(fin) + len(ops)
    m["raw_bytes"] = sum(sizes.values())
    m["as_of"] = _iso(BASE_DAY + _dt.timedelta(days=BASE_DAYS))
    return m, emps, nxt


def daily_batches(seed, out_dir, n_emp, n_fin, n_ops, n_batches,
                  fin_per_day, ops_per_day):
    """Base extract (built by set-up) + `n_batches` daily batches, each in
    its own directory with its own manifest."""
    rng = _Rng(("daily", seed).__repr__())
    state = _State()
    base_m, emps, nxt = _base_load(rng, os.path.join(out_dir, "base"),
                                   n_emp, n_fin, n_ops, state)
    _dump(os.path.join(out_dir, "base", "manifest.json"), base_m)
    roster = {e["employee_id"]: dict(e) for e in emps}
    next_id = 100000 + n_emp
    manifests = []
    for b in range(n_batches):
        day = FIRST_BATCH_DAY + _dt.timedelta(days=b)
        bdir = os.path.join(out_dir, "batch_%03d" % (b + 1))
        os.makedirs(bdir, exist_ok=True)
        counts = _Counts()
        # --- HR snapshot: a few percent change, appear or go missing
        for e in roster.values():
            if rng.p(0.02):
                e["department"] = rng.pick(DEPTS)
            if rng.p(0.01):
                e["manager_id"] = str(1000 + rng.below(400))
        for _ in range(max(1, n_emp // 100)):
            roster[str(next_id)] = _new_employee(rng, next_id)
            next_id += 1
        present = [e for e in roster.values() if not rng.p(0.01)]
        lines, staged = [], []
        n = 0
        for e in present:
            n += 1
            # light dirtiness: every dirty value is also a cleaned change
            raw, cl = _hr_row(rng, dict(e), rng.p(0.05), counts, n)
            lines.append(raw)
            staged.append(cl)
        for raw, cl in [(lines[i], staged[i]) for i in
                        sorted({rng.below(len(lines)) for _ in range(5)})]:
            lines.append(raw)
            for issue in _issues_of(cl, raw):
                counts.log("staging_employee", issue)
            counts.log("staging_employee", "duplicate_row")
        hr_staged = staged
        ids = sorted(state.emp_keys - {k for k in state.emp_keys
                                       if k.startswith("TEMP_")})
        # --- one day of expenses: new rows, same-day replays, duplicates,
        # late rows below the watermark, FK misses
        fin = []
        for i in range(fin_per_day):
            miss = rng.p(0.01)
            eid = str(FK_MISS_BASE + nxt()) if miss else rng.pick(ids)
            d = day - _dt.timedelta(days=5) if rng.p(0.01) else day
            raw, cl = _fin_row(rng, eid, d, counts, nxt(), dirty=False)
            fin.append((raw, cl))
        replay = state.last_day_rows["fact_expenses"]
        for cl in [replay[rng.below(len(replay))] for _ in range(
                min(len(replay), max(1, fin_per_day // 20)))]:
            fin.append((_fin_raw_of(cl), dict(cl)))
        fin += [fin[rng.below(fin_per_day)] for _ in range(max(1, fin_per_day // 50))]
        ops = [_ops_row(rng, day, counts, nxt()) for _ in range(ops_per_day)]
        for i in range(max(1, ops_per_day // 50)):
            raw, cl = ops[rng.below(ops_per_day)]
            ops.append((raw, cl))
            for issue in _ops_issues(raw):
                counts.log("staging_operations", issue)
        oreplay = [c for c in state.last_day_rows["fact_downtime"]
                   if c["downtime_hours"] is not None]
        for cl in [oreplay[rng.below(len(oreplay))] for _ in range(
                min(len(oreplay), max(1, ops_per_day // 20)))]:
            ops.append((_ops_raw_of(cl), dict(cl)))
        sizes = [
            _write_csv(os.path.join(bdir, "HR_Dataset_Dirty.csv"), HR_COLS, lines),
            _write_csv(os.path.join(bdir, "Finance_Dataset_Dirty.csv"),
                       FIN_COLS, [r for r, _ in fin]),
            _write_csv(os.path.join(bdir, "Operations_Dataset_Dirty.csv"),
                       OPS_COLS, [r for r, _ in ops])]
        m = _apply_load(state, hr_staged, fin, ops, counts)
        m["raw_rows"] = len(lines) + len(fin) + len(ops)
        m["raw_bytes"] = sum(sizes)
        m["as_of"] = _iso(day)
        _dump(os.path.join(bdir, "manifest.json"), m)
        manifests.append(m)
    return base_m, manifests


def _fin_raw_of(cl):
    amt = cl["expense_amount"]
    return {"EmployeeID": cl["employee_id"], "ExpenseType": cl["expense_type"],
            "ExpenseAmount": amt, "ExpenseDate": _iso(cl["expense_date"]),
            "ApprovedBy": cl["approved_by"]}


def _ops_raw_of(cl):
    return {"Department": cl["department_name"],
            "ProcessName": cl["process_name"],
            "DowntimeHours": cl["downtime_hours"],
            "ProcessDate": _iso(cl["process_date"]),
            "Location": cl["location_name"]}


def _dump(path, obj):
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, indent=1, sort_keys=True)


# ------------------------------------------------------------------- star
WORDS = ("key agg row scan slow fast table value part hash merge batch spark "
         "a the line sort window order data column join small customer query "
         "filter stream group big vector index plan cache shard").split()
LANGS = ["en"] * 4 + ["zh", "es", "de", "fr"]
PART_ADJ = ["small", "red", "blue", "green", "large", "steel", "brass",
            "light", "heavy", "round", "flat", "smart"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "valve", "panel", "frame",
             "wheel", "cable", "pump", "spring", "lever"]


def star(seed, out_dir, sf):
    """TPC-H-ish tables at scale factor `sf` as one parquet file each."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    g = np.random.default_rng(seed)
    counts = {}

    def write(name, cols):
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, name + ".parquet"))
        counts[name] = t.num_rows

    def money(lo, hi, n):
        return np.round(g.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)

    def days(start, n_days, n):
        base = np.datetime64(start, "D")
        return (base + g.integers(0, n_days, n)).astype("datetime64[us]")

    write("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": ["REGION_%d" % i for i in range(5)]})
    write("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                     "n_name": ["NATION_%d" % i for i in range(25)],
                     "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    n_cust = max(150, int(150000 * sf))
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": list(np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                       "HOUSEHOLD", "MACHINERY"])[
            g.integers(0, 5, n_cust)])})
    n_supp = max(20, int(10000 * sf))
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    n_part = max(200, int(200000 * sf))
    adj = g.integers(0, len(PART_ADJ), n_part)
    noun = g.integers(0, len(PART_NOUN), n_part)
    write("part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": ["%s %s" % (PART_ADJ[a], PART_NOUN[b]) for a, b in zip(adj, noun)],
        "p_brand": ["Brand#%d" % b for b in g.integers(1, 26, n_part)],
        "p_type": list(np.array(["ECONOMY", "SMALL", "STANDARD", "PROMO",
                                 "LARGE"])[g.integers(0, 5, n_part)]),
        "p_size": pa.array(g.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)})
    n_ord = max(1500, int(1500000 * sf))
    odate = days("1995-01-01", 2404, n_ord)          # through 2001-08-01
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": list(np.array(["O", "F", "P"])[g.integers(0, 3, n_ord)]),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": list(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                          "4-NOT SPECIFIED", "5-LOW"])[
            g.integers(0, 5, n_ord)])})
    lines = g.integers(1, 8, n_ord)
    lk = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    ln = (np.arange(len(lk)) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    n_li = len(lk)
    ship = (odate[lk].astype("datetime64[D]")
            + g.integers(1, 121, n_li)).astype("datetime64[us]")
    li = {
        "l_orderkey": lk, "l_partkey": g.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": g.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": ln.astype(np.int32),
        "l_quantity": g.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 100000, n_li),
        "l_discount": g.integers(0, 11, n_li) / 100.0,
        "l_tax": g.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[g.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[g.integers(0, 2, n_li)],
        "l_shipdate": ship}
    # a few duplicate (l_orderkey, l_linenumber) rows with another quantity,
    # as in the harness testdata: window sort keys must be total
    dup = g.choice(n_li, max(1, n_li // 2000), replace=False)
    for k in li:
        li[k] = np.concatenate([li[k], li[k][dup]])
    li["l_quantity"][n_li:] += 1
    li["l_returnflag"] = list(li["l_returnflag"])
    li["l_linestatus"] = list(li["l_linestatus"])
    li["l_shipdate"] = pa.array(li["l_shipdate"], pa.timestamp("us"))
    write("lineitem", li)
    n_ev = max(1000, int(1000000 * sf))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        g.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    write("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, n_cust, n_ev).astype(np.int64)),
        "event_type": list(np.array(["click", "view", "purchase", "signup",
                                     "error"])[g.integers(0, 5, n_ev)]),
        "value": money(0, 20, n_ev),
        "props": ['{"k": %d}' % k for k in g.integers(0, 100, n_ev)]})
    n_doc = max(100, int(50000 * sf))
    texts = []
    for i in range(n_doc):
        if i > 10 and g.random() < 0.15:
            # near-duplicate of an earlier document: a few token swaps
            toks = texts[int(g.integers(0, i))].split()
            for _ in range(int(g.integers(1, 4))):
                toks[int(g.integers(0, len(toks)))] = WORDS[int(g.integers(0, len(WORDS)))]
        else:
            toks = [WORDS[w] for w in g.integers(0, len(WORDS), int(g.integers(8, 90)))]
        texts.append(" ".join(toks))
    write("documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[j] for j in g.integers(0, len(LANGS), n_doc)],
        "source": ["src%d" % (i % 20) for i in range(n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    n_vec = max(100, int(50000 * sf))
    centroids = g.normal(0, 1, (10, 64))
    label = g.integers(0, 10, n_vec)
    emb = (centroids[label] + g.normal(0, 0.6, (n_vec, 64))).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))})
    return counts

#!/usr/bin/env python3
"""Summarize Spark event logs (zstd frames): per-jobDescription job/stage
counts, executor task time, shuffle bytes. Usage: evlog_summary.py <dir>..."""
import json, os, sys, glob, subprocess, collections

def lines(path):
    if path.endswith('.zstd'):
        # a missing binary or a truncated frame must fail loudly, not
        # summarize as all zeros
        try:
            p = subprocess.run(['zstd', '-dc', path], capture_output=True)
        except OSError as e:
            sys.exit('evlog_summary: cannot run zstd: %s' % e)
        if p.returncode != 0:
            sys.exit('evlog_summary: zstd -dc %s failed (exit %d): %s' % (
                path, p.returncode, p.stderr.decode(errors='replace').strip()))
        for ln in p.stdout.splitlines():
            yield ln
    else:
        for ln in open(path, 'rb'):
            yield ln

def summarize(d):
    files = sorted(glob.glob(d + '/events_*')) if os.path.isdir(d) else [d]
    per = collections.defaultdict(lambda: dict(jobs=0, stages=0, tasks=0,
        ms=0, sr=0, sw=0))
    stage2desc = {}
    jid2desc = {}
    for f in files:
        for ln in lines(f):
            try: e = json.loads(ln)
            except Exception: continue
            if not isinstance(e, dict): continue
            ev = e.get('Event', '')
            if ev == 'SparkListenerJobStart':
                desc = (e.get('Properties') or {}).get(
                    'spark.job.description', '?')
                jid2desc[e['Job ID']] = desc
                per[desc]['jobs'] += 1
                for s in e.get('Stage Infos', []):
                    stage2desc[s['Stage ID']] = desc
            elif ev == 'SparkListenerStageCompleted':
                sid = e['Stage Info']['Stage ID']
                per[stage2desc.get(sid, '?')]['stages'] += 1
            elif ev == 'SparkListenerTaskEnd':
                desc = stage2desc.get(e.get('Stage ID'), '?')
                p = per[desc]
                p['tasks'] += 1
                m = e.get('Task Metrics') or {}
                if isinstance(m, dict):
                    p['ms'] += m.get('Executor Run Time', 0)
                    sr = m.get('Shuffle Read Metrics') or {}
                    p['sr'] += sr.get('Remote Bytes Read', 0) + \
                        sr.get('Local Bytes Read', 0)
                    sw = m.get('Shuffle Write Metrics') or {}
                    p['sw'] += sw.get('Shuffle Bytes Written', 0)
    return per

for d in sys.argv[1:]:
    print('==', os.path.basename(d))
    per = summarize(d)
    tot = dict(jobs=0, stages=0, tasks=0, ms=0, sr=0, sw=0)
    for desc in sorted(per):
        p = per[desc]
        for k in tot: tot[k] += p[k]
        print('  %-28s jobs=%-3d stages=%-4d tasks=%-5d taskTime=%7.1fs shufR=%7.1fMB shufW=%7.1fMB'
              % (desc[:28], p['jobs'], p['stages'], p['tasks'],
                 p['ms']/1e3, p['sr']/1e6, p['sw']/1e6))
    print('  %-28s jobs=%-3d stages=%-4d tasks=%-5d taskTime=%7.1fs shufR=%7.1fMB shufW=%7.1fMB'
          % ('TOTAL', tot['jobs'], tot['stages'], tot['tasks'],
             tot['ms']/1e3, tot['sr']/1e6, tot['sw']/1e6))

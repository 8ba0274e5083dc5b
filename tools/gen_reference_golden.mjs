// Differential-test harness: executes the REFERENCE's own detection/redaction
// code (type-stripped from /root/reference/src/lib/{detection,redaction}.ts)
// over the 18 mock-resume fixtures and a set of synthetic probe texts, and
// writes golden JSON (tests/golden/reference_golden.json) that pytest compares
// byte-for-byte against the Python oracle.  Each fixture's `text` is the repo's
// verbatim copy of the reference fixture; tests read fixtures from it, never
// from the reference checkout.  Run manually:
//   node tools/gen_reference_golden.mjs
// The golden file is committed, so CI/pytest never needs node.

import { readFileSync, writeFileSync, readdirSync, mkdirSync } from 'node:fs'
import { tmpdir } from 'node:os'
import { join } from 'node:path'
import { pathToFileURL } from 'node:url'

const REF = '/root/reference/src/lib'

function stripTypes(src) {
  // Remove interface blocks (non-nested braces only, true for these files)
  src = src.replace(/^(?:export )?interface \w+ \{[^}]*\}\n/gm, '')
  src = src.replace(/^import type .*\n/gm, '')
  // Remove generic args on Set/Map constructors
  src = src.replace(/new (Set|Map)<[^>]*>/g, 'new $1')
  // Remove optional-param markers + type annotations on params/vars/returns
  const TYPE = String.raw`(?:RegExpExecArray \| null|Detection\[\]|RegexPattern\[\]|string\[\]|Map<[^>]*>(?:\s*\|\s*null)?|Record<[^>]*>|Set<[^>]*>|RedactionOptions|Detection|string \| null|number \| null|string|number|boolean)`
  src = src.replace(new RegExp(String.raw`\?\s*:\s*${TYPE}`, 'g'), '')
  src = src.replace(new RegExp(String.raw`:\s*${TYPE}(?=\s*([,)={;]|$))`, 'gm'), '')
  src = src.replace(new RegExp(String.raw`\)\s*:\s*${TYPE}(?:\s*\|\s*null)?\s*\{`, 'g'), ') {')
  return src
}

const dir = join(tmpdir(), 'sumi-ref-strip')
mkdirSync(dir, { recursive: true })
let det = stripTypes(readFileSync(join(REF, 'detection.ts'), 'utf8'))
let red = stripTypes(readFileSync(join(REF, 'redaction.ts'), 'utf8'))
red = red.replace(/from '\.\/detection'/g, "from './detection.mjs'")
writeFileSync(join(dir, 'detection.mjs'), det)
writeFileSync(join(dir, 'redaction.mjs'), red)

const D = await import(pathToFileURL(join(dir, 'detection.mjs')))
const R = await import(pathToFileURL(join(dir, 'redaction.mjs')))

const cases = []

// 18 mock-resume .txt fixtures
const fixDir = '/root/reference/test-data/mock-resumes'
for (const f of readdirSync(fixDir).filter((f) => f.endsWith('.txt')).sort()) {
  cases.push({ name: f, text: readFileSync(join(fixDir, f), 'utf8') })
}

// Synthetic probe texts covering every pattern family + FP traps
const probes = [
  '氏名：山田太郎\nフリガナ：ヤマダタロウ',
  '担当：田中 太郎（部長）と上司：鈴木 健太',
  '連絡先: yamada.taro@example.com / 090-1234-5678',
  'TEL: 03-1234-5678 FAX: (045) 987-6543',
  '〒150-0001 東京都渋谷区神宮前3-14-5 メゾンド原宿 402号室',
  '生年月日：1990年4月15日 / 昭和63年5月20日生まれ',
  'マイナンバー 1234 5678 9012 を記載',
  'GitHub: tanaka-taro-dev Twitter: @username123 LINE ID: taro_123',
  '2020年4月 - 2024年3月 株式会社ABCに勤務',
  '作成日：2024年12月1日 / 更新日：2025年1月15日',
  'https://github.com/octocat と user@example.com',
  '住所：北海道札幌市中央区大通西4丁目6-1 / 京都府京都市下京区四条烏丸1-5-3',
  '電話：０９０−１２３４−５６７８ 名前：佐々木　誠',
  'フロントエンドエンジニアの求人。React、TypeScript経験者。',
  '氏名：佐藤 花子\nフリガナ：サトウ ハナコ\n住所：神奈川県横浜市西区みなとみらい2-3-1',
  '社員番号|氏名|フリガナ|生年月日|住所|電話\n001|高橋 一郎|タカハシ イチロウ|1985年3月10日|千葉県船橋市本町5-7-3|047-123-4567',
  'Qiita: tech_writer Zenn: dev_taro Bluesky: user.bsky.social',
  '令和5年4月1日に入社。平成2年8月12日生まれ。',
  '問い合わせは 0120-123-456 まで。内線 1234 5678 9012。',
  '承認者：長谷川 翔太 / 報告者：五十嵐 美咲',
  // adversarial round 2: boundary + overlap + encoding edges
  '田中太郎',                                   // name at position 0
  '部長田中太郎が承認。課長鈴木健太も確認。',     // LABEL_ENDS boundary chars
  '小林太郎と林太郎は別人です。',                 // overlapping surnames 小林/林
  '担当：原田太郎、補佐：原太郎',                 // prefix surnames 原田/原
  '生年月日：令和8年1月1日',                      // era year == current year
  '生年月日：平成18年4月1日',                     // exactly currentYear-20 boundary
  '2006年4月1日 と 2007年4月1日',                 // unlabeled boundary years
  '〒123-4567 の前に 9123-4567 と 123-45678',     // postal adjacency traps
  'マイナンバー 1234 5678 9012、期間 2020 - 2024', // mynumber near year range
  'メール：ｔａｒｏ＠ｅｘａｍｐｌｅ．ｃｏｍ 電話：０３－１２３４－５６７８', // fullwidth PII
  'Twitter: @a GitHub: x LinkedIn: /in/ab',        // below-min-length accounts
  'line1\r\n氏名：田中 太郎\r\nフリガナ：タナカ タロウ\r\n',  // CRLF endings
  '氏名：佐藤　花子\nフリガナ：サトウ　ハナコ',       // U+3000 separators
  '住所：東京都' + '中央区日本橋'.repeat(6) + '1-2-3',        // long address tail
  'url https://例.jp/パス と http://ex.com/a,b、c',           // URL boundary chars
  '{"user":{"name":"田中 太郎","tel":"090-1234-5678"}}',      // JSON-embedded PII
  'Ｘ： @fullwidth_x と X: @halfwidth_x',                     // fullwidth SNS label
  '連絡先：　tanaka@example.com　（全角スペース）',
  '氏名:田中 太郎 名前・山田 花子 氏 名：佐藤 誠',             // separator variants
  // adversarial round 3: regex-dialect parity (JS vs Python semantics)
  'http://a.io\nTwitter: @user_1',               // $ vs \Z: URL on PREVIOUS line
  'サイト http://a.io Twitter: @user_2',         // URL same line (suppressed)
  '番号 ١٢٣-١٢٣٤ です',                          // Arabic-Indic digits != \d
  '٣090-1234-5678 に連絡',                       // unicode digit before phone
  '電話０９０-１２３４-５６７８と09012345678',    // fullwidth + bare phone
  'Qiita: user.名前 です',                        // \w after dot: kanji not word
]
probes.forEach((t, i) => cases.push({ name: `probe_${String(i).padStart(2, '0')}`, text: t }))

const out = []
for (const c of cases) {
  const dets = D.detectAll(c.text)
  const maskedDefault = R.applyRedaction(c.text, dets, { keepPrefecture: true })
  const maskedInitial = R.applyRedaction(c.text, dets, {
    keepPrefecture: true,
    nameInitial: true,
  })
  out.push({
    name: c.name,
    text: c.text,
    detections: dets.map((d) => ({
      id: d.id, type: d.type, category: d.category, value: d.value,
      source: d.source, confidence: d.confidence,
    })),
    masked_keep_pref: maskedDefault,
    masked_name_initial: maskedInitial,
  })
}

mkdirSync('tests/golden', { recursive: true })
writeFileSync(
  'tests/golden/reference_golden.json',
  JSON.stringify({ current_year: new Date().getFullYear(), cases: out }, null, 1),
)
console.log(`wrote ${out.length} cases`)

// ── RTF golden: execute the REFERENCE's own parseRTF replace-chain ──
// parseRTF (RedactPro.tsx:1543-1563) is file-I/O wrapped; extract the exact
// transformation body between `let result=text;` and `return{text:result`
// and run it verbatim, so the golden anchors to executed reference code,
// not a transcription.
const tsx = readFileSync('/root/reference/src/app/RedactPro.tsx', 'utf8')
const rtfMatch = tsx.match(
  /async function parseRTF[\s\S]*?let result=text;([\s\S]*?)return\{text:result/)
if (!rtfMatch) throw new Error('parseRTF body not found in RedactPro.tsx')
const stripRtf = new Function('text', 'let result=text;' + rtfMatch[1] + 'return result;')

const rtfProbes = [
  // plain envelope
  String.raw`{\rtf1\ansi{\fonttbl{\f0 Arial;}}{\colortbl;\red0\green0\blue0;}\f0 Hello World\par Second line}`,
  // \'XX hex escapes (cp1252-ish bytes)
  String.raw`{\rtf1 caf\'e9 and na\'efve\par}`,
  // \uNNNN with trailing fallback '?'
  '{\\rtf1 \\u26085?\\u26412?\\u35486? text}',
  // \uNNNN with space separator, no fallback
  '{\\rtf1 \\u12354 \\u12356 kana}',
  // nested groups inside fonttbl
  String.raw`{\rtf1{\fonttbl{\f0\froman Times{\falt Arial};}{\f1\fswiss Helv;}}body text\par}`,
  // stylesheet + info groups
  String.raw`{\rtf1{\stylesheet{\s0 Normal;}{\s1 Head;}}{\info{\title Secret}{\author Bob}}visible\par}`,
  // \line, \tab, \pard vs \par
  String.raw`{\rtf1 a\line b\tab c\pard d\par e}`,
  // backslash-newline escape
  '{\\rtf1 one\\\ntwo}',
  // control words with numeric args and hyphens
  String.raw`{\rtf1\fi-360\li720\sb100 indented\par}`,
  // braces in running text + stray closers
  String.raw`{\rtf1 some {grouped} text {\b bold} done}`,
  // \u with ToUint16 wrap (70000 & 0xFFFF = 4464)
  '{\\rtf1 wrap:\\u70000? end}',
  // 3+ newline collapse after \par runs
  String.raw`{\rtf1 a\par\par\par\par b}`,
  // hex escape adjacent to control word
  String.raw`{\rtf1\f0\'82\'a0 mixed\par}`,
  // uppercase control words are NOT stripped by /\\[a-z]+/ (dialect probe)
  String.raw`{\rtf1 \PAR stays}`,
]
const rtfOut = rtfProbes.map((text, i) => ({
  name: `rtf_${String(i).padStart(2, '0')}`,
  rtf: text,
  stripped: stripRtf(text),
}))
writeFileSync('tests/golden/rtf_golden.json',
  JSON.stringify({ cases: rtfOut }, null, 1))
console.log(`wrote ${rtfOut.length} rtf cases`)

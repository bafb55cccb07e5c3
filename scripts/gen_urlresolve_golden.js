// Generate the Node legacy url.resolve golden corpus for parity testing.
// Node's url.resolve is the exact resolver the reference uses
// (reference src/converters.ts:153,188 -> require('url').resolve).
// Run: node scripts/gen_urlresolve_golden.js > tests/data/urlresolve_golden.json
'use strict';
const url = require('url');

const bases = [
  'http://example.com',
  'http://example.com/',
  'https://example.com/a/b/c',
  'https://example.com/a/b/c/',
  'http://EXAMPLE.COM/Mixed/Case',
  'https://user:pw@Host.Test:8443/p/q?x=1#frag',
  'http://127.0.0.1:8080/deep/path/page.html',
  'https://example.com/a?query=1',
  'https://example.com/a#frag',
  'https://sub.domain.example.co.uk/x/y',
  'http://example.com/%7Euser/dir/',
  'https://example.com/a/b?q=v#f',
  // dot/empty segments in the BASE (the legacy merge resolves them;
  // guards the plain-href fast path's base checks)
  'http://example.com/a/../b/c',
  'http://example.com/x/./y/',
  'http://example.com/a//b/',
];

const hrefs = [
  // plain relative / dot traversal
  'c', 'c/d', './c', '../c', '../../c', '../../../../z', '.', '..', '',
  '/abs', '/abs/', '/', '//', '///x',
  // protocol-relative incl. case + auth + port
  '//other.com/p', '//Other.COM/Path', '//o.com:9090/p', '//u:p@o.com/p',
  // scheme'd
  'http://New.Host/P', 'https://x.y/z', 'mailto:a@b.c', 'invalid:url',
  'data:text/plain,hi', 'ftp://F.TP/x', 'about:blank',
  // backslashes in every position
  '\\foo', '\\\\foo', 'a\\b', 'a/b\\c', '..\\up', '.\\here',
  '//host.com\\@evil.com/p', '//host.com\\path', '/abs\\tail',
  '?q=a\\b', '#f\\g',
  // legacy autoEscape charset
  "p'q", 'p{q}', 'p|q', 'p^q', 'p`q', 'p<q>r', 'p"q',
  // query / fragment forms
  '?only=query', '#onlyfrag', '?', '#', 'x?y=z#w', '?a=1&b=2#x',
  // percent sequences (valid + broken)
  '%5Cfoo', '%7e', 'a%zzb', '100%',
  // colon-ish and @-ish relatives
  './x:y', 'x:y/z', '@host/x', ':8080/x' /* invalid per legacy parse */,
  // unicode + already-encoded
  'café', '%C3%A9clair', 'semi;colon', 'comma,path',
];

const out = [];
for (const b of bases) {
  for (const h of hrefs) {
    let r;
    try {
      r = url.resolve(b, h);
    } catch (e) {
      r = { error: e.constructor.name };
    }
    out.push([b, h, r]);
  }
}
process.stdout.write(JSON.stringify(out, null, 0));
